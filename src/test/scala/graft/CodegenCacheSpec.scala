package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import graft.operators.DedupPipeline
import graft.runtime.Checkpoint
import graft.sources.PagesGen

/** Spark's generated-code cache must hold the plan set of one pipeline call.
  * If it does not, the LRU evicts every class before its next use and each
  * call recompiles its whole plan. A repeated call must compile nothing, and
  * the cache must keep 2x headroom over one call's classes, so that growth
  * in plan variety fails here before the cache thrashes. (The cache is
  * JVM-wide: after other suites, the first call compiles only the classes
  * they did not already generate, so the headroom check is exact only when
  * this spec runs alone.)
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def cacheEntries: Int =
    spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt

  /** Compiles of a warm-up call and of an identical second call; the job
    * description set before the calls must survive both.
    */
  private def firstAndRepeat(call: Int => Unit): (Long, Long) = {
    spark.sparkContext.setJobDescription("caller's job")
    try {
      val c0 = compiles
      call(0)
      val c1 = compiles
      call(1)
      val c2 = compiles
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller's job",
        "a call must restore the caller's job description")
      (c1 - c0, c2 - c1)
    } finally spark.sparkContext.setJobDescription(null)
  }

  private def assertCached(first: Long, repeat: Long): Unit = {
    info(s"first call compiled $first classes, repeat $repeat; cache holds $cacheEntries")
    assert(repeat == 0, s"an identical call recompiled $repeat generated classes")
    assert(2 * first <= cacheEntries,
      s"one call compiled $first classes: under 2x headroom in a $cacheEntries-entry cache")
  }

  test("a repeated DedupPipeline.run compiles no generated code") {
    val pages = PagesGen.generate(spark, 400, nDomains = 20, seed = 11L).cache()
    try {
      pages.count()
      val (first, repeat) = firstAndRepeat(_ => DedupPipeline.run(spark, pages).count(): Unit)
      assertCached(first, repeat)
    } finally pages.unpersist(): Unit
  }

  test("a repeated Checkpoint.runIncremental drain compiles no generated code") {
    val pages = PagesGen.generate(spark, 400, nDomains = 20, nDays = 2, seed = 12L).cache()
    try {
      pages.count()
      val (first, repeat) = firstAndRepeat { i =>
        val root = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("target"), s"codegen$i").toString
        assert(Checkpoint.runIncremental(spark, pages, root).size == 2)
      }
      assertCached(first, repeat)
    } finally pages.unpersist(): Unit
  }
}
