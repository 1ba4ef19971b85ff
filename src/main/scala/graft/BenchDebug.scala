package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.operators.{ConnectedComponents, DedupConfig, DedupPipeline}
import graft.sources.PagesGen

/** Stage-by-stage wall-time breakdown of the dedup pipeline (profiling aid). */
object BenchDebug {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_NDOCS", "20000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s") // survive host throttle windows
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stage] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val cfg = DedupConfig()
    val pages = PagesGen.generate(spark, nDocs, nDomains = 500, seed = 42L)
      .persist(StorageLevel.MEMORY_AND_DISK)
    timed("generate")(pages.count())
    val sigs = DedupPipeline.signatures(pages, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    timed("signatures")(sigs.count())
    val cand = DedupPipeline.candidates(sigs, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val nCand = timed("lsh_candidates")(cand.count())
    val edges = DedupPipeline.verifiedEdges(sigs, cand, cfg)
      .select(org.apache.spark.sql.functions.col("uid_a").as("src"),
        org.apache.spark.sql.functions.col("uid_b").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = timed("verify")(edges.count())
    import org.apache.spark.sql.functions._
    val vertices = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val comps = timed("cc") {
      val c = ConnectedComponents.run(spark, vertices, edges)
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    val assigned = comps.join(sigs.select(col("uid"), col("url"), col("warc_ts"), col("n_chars")),
      comps("id") === col("uid"))
      .select(col("url"), col("warc_ts"), col("n_chars"), col("component"))
    timed("split_keepers")(DedupPipeline.splitAndSelectKeepers(assigned, cfg).count())
    println(s"[stats] candidates=$nCand edges=$nEdges")
    spark.stop()
  }
}
