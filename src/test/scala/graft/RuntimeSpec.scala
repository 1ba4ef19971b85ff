package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{DedupConfig, Multimodal}
import graft.runtime.Checkpoint
import graft.sources.PagesGen

/** Checkpoint/resume (kill-and-rerun fixture, FIXTURES.md §5) and
  * multimodal plumbing.
  */
class RuntimeSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ckpt").toString
    d
  }

  test("kill/rerun resumes from checkpoint; outputs identical to clean run") {
    val pages = PagesGen.generate(spark, 600, nDomains = 30, nDays = 3, seed = 5L)
    val cfg = DedupConfig()

    // clean uninterrupted run
    val cleanRoot = freshRoot()
    val cleanDays = Checkpoint.runIncremental(spark, pages, cleanRoot, cfg)
    assert(cleanDays.size == 3)

    // interrupted run: crash after 1 partition
    val root = freshRoot()
    val ex = intercept[RuntimeException] {
      Checkpoint.runIncremental(spark, pages, root, cfg, failAfter = 1)
    }
    assert(ex.getMessage.contains("injected failure"))
    val doneAfterCrash = Checkpoint.completedDays(spark, root, Checkpoint.configHash(cfg))
    assert(doneAfterCrash.size == 1)

    // resume: must process exactly the remaining 2 days
    val resumed = Checkpoint.runIncremental(spark, pages, root, cfg)
    assert(resumed.size == 2)
    assert(!resumed.contains(doneAfterCrash.head), "resume re-processed a done partition")

    // third run: nothing to do (idempotent)
    assert(Checkpoint.runIncremental(spark, pages, root, cfg).isEmpty)

    // outputs identical to the clean run
    val a = spark.read.parquet(s"$cleanRoot/output").select("url", "cluster_id", "is_keeper")
      .collect().map(_.toString).sorted
    val b = spark.read.parquet(s"$root/output").select("url", "cluster_id", "is_keeper")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))

    // metrics rows present per partition with lineage fingerprint
    val m = spark.read.parquet(s"$root/metrics")
    assert(m.select("day").distinct().count() == 3)
    assert(m.filter(col("inputFingerprint").isNull).count() == 0)
    assert(m.filter(col("nDocsIn") <= 0).count() == 0)

    // config change invalidates checkpoints (different hash -> full rerun)
    val rerun = Checkpoint.runIncremental(spark, pages, root, cfg.copy(threshold = 0.95))
    assert(rerun.size == 3)
  }

  test("metrics row holds each day's input count, fingerprint and output counts") {
    val pages = PagesGen.generate(spark, 400, nDomains = 20, nDays = 2, seed = 11L)
    val root = freshRoot()
    assert(Checkpoint.runIncremental(spark, pages, root, DedupConfig()).size == 2)

    val input = pages.withColumn("day", Fns.dayKey(col("warc_ts")))
    val rows = spark.read.parquet(s"$root/metrics").collect()
    assert(rows.map(_.getAs[String]("day")).sorted.sameElements(
      input.select("day").distinct().collect().map(_.getString(0)).sorted))
    rows.foreach { m =>
      val day = m.getAs[String]("day")
      val in = input.filter(col("day") === day)
      val out = spark.read.parquet(s"$root/output/day=$day")
      val nClustered = out.count()
      val nClusters = out.select("cluster_id").distinct().count()
      assert(nClusters > 0, s"$day: no clusters, the row checks nothing")
      assert(m.getAs[Long]("nDocsIn") == in.count(), day)
      assert(m.getAs[Long]("inputFingerprint") ==
        in.agg(expr("bit_xor(xxhash64(url, warc_ts))")).first().getLong(0), day)
      assert(m.getAs[Long]("nClustered") == nClustered, day)
      assert(m.getAs[Long]("nClusters") == nClusters, day)
      assert(m.getAs[Long]("nDuplicatesRemoved") == nClustered - nClusters, day)
    }
  }

  test("multimodal stub pipeline: schema, determinism, batch shape") {
    val media = Multimodal.generateMedia(spark, 200, seed = 9L)
    assert(media.schema.fieldNames.toSet ==
      Set("media_id", "kind", "bytes", "source_url"))
    assert(media.schema("bytes").dataType.typeName == "binary")

    val feats = Multimodal.extractFeatures(spark, media, batchSize = 64)
    val rows = feats.collect()
    assert(rows.length == 200)
    val again = Multimodal.extractFeatures(spark, media, batchSize = 7).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted),
      "batch size must not change results")
    // embeddings normalized; image rows have dims, a/v rows have duration
    feats.select("kind", "width", "duration_ms").collect().foreach { r =>
      if (r.getString(0) == "image") assert(r.getInt(1) > 0 && r.getInt(2) == 0)
      else assert(r.getInt(1) == 0 && r.getInt(2) >= 0)
    }
  }
}
