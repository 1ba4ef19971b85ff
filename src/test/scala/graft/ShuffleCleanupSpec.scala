package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The engine removes a query's shuffle files when the query ends
  * (`spark.sql.classic.shuffleDependency.fileCleanup.enabled`, set in
  * build.sbt). A frame executed again must then regenerate its shuffles and
  * give the same rows: the pipeline reads several frames more than once.
  */
class ShuffleCleanupSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("a frame with exchanges gives identical rows when executed twice under shuffle cleanup") {
    assert(spark.conf.get("spark.sql.classic.shuffleDependency.fileCleanup.enabled") == "true",
      "the shuffle-cleanup engine default is not set in this JVM")
    val grouped = spark.range(0, 20000)
      .groupBy((col("id") % 97).as("k"))
      .agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
    val df = grouped.join(spark.range(0, 97).withColumnRenamed("id", "k"), "k")
      .repartition(3, col("s"))
    assert(df.queryExecution.executedPlan.toString.contains("Exchange"))
    val first = df.collect().map(_.toString).sorted
    val again = df.collect().map(_.toString).sorted
    assert(first.length == 97)
    assert(first.sameElements(again))
  }
}
