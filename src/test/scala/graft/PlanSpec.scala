package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{DedupConfig, DedupPipeline}
import graft.sources.PagesGen

/** Physical-plan assertions: the plans we ship are the plans we want.
  * Pushdown reaches the parquet scan, small dims broadcast, the dedup hot
  * path stays inside whole-stage codegen, and day-partitioned outputs prune.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter + projection push down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") >= 48)
      .select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,48"),
      s"no pushed filter in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the 2 projected columns:\n$plan")
  }

  test("q3 plan broadcasts the filtered customer dimension") {
    val plan = planOf(SparkEntry.queries("q3_top_revenue")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("q1 aggregates with partial (map-side) aggregation") {
    val plan = planOf(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    // partial_sum before the exchange, final after — two HashAggregates
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_sum"), s"no map-side partial agg in:\n$plan")
  }

  test("dedup verify join is whole-stage-codegen with the custom cosine") {
    val pages = PagesGen.generate(spark, 200, nDomains = 10, seed = 3L)
    val cfg = DedupConfig()
    val sigs = DedupPipeline.signatures(pages, cfg)
    val edges = DedupPipeline.verifiedEdges(sigs, DedupPipeline.candidates(sigs, cfg), cfg)
    assert(planOf(edges).contains("cosinesparse"), s"custom expression missing:\n${planOf(edges)}")
    edges.collect() // finalize THIS adaptive plan (count() would plan anew)
    val plan = planOf(edges)
    // '*(n)' prefixes mark WholeStageCodegen spans in plan toString; the
    // cosine projection + verify join must sit inside one
    assert("\\*\\(\\d+\\) Project \\[uid_a".r.findFirstIn(plan).isDefined,
      s"verify projection not inside a codegen span:\n$plan")
  }

  test("day-partitioned output scan prunes partitions on day predicate") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "prune").toString
    PagesGen.generate(spark, 300, nDomains = 10, nDays = 3, seed = 4L)
      .withColumn("day", graft.functions.Fns.dayKey(col("warc_ts")))
      .write.partitionBy("day").parquet(s"$root/pages")
    val df = spark.read.parquet(s"$root/pages").filter(col("day") === "2026-01-02")
    val plan = formatted(df)
    assert(plan.contains("PartitionFilters: [isnotnull(day"), s"no partition filter:\n$plan")
    // pruned scan must read exactly one of the three day partitions
    val scanned = df.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("day=2026-01-02")))
  }

  test("signatures stage contains no shuffle (narrow map over the scan)") {
    val pages = PagesGen.generate(spark, 100, nDomains = 5, seed = 6L)
    val plan = planOf(DedupPipeline.signatures(pages, DedupConfig()))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in signatures:\n$plan")
  }

  test("signatures projection calls the kernel UDF once per row") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val pages = PagesGen.generate(spark, 100, nDomains = 5, seed = 6L)
    val plan = DedupPipeline.signatures(pages, DedupConfig()).queryExecution.executedPlan
    val udfs = plan.collect { case node => node.expressions.flatMap(_.collect { case u: ScalaUDF => u }) }
      .flatten
    assert(udfs.size == 1, s"expected one kernel ScalaUDF, found ${udfs.size}:\n$plan")
  }
}
