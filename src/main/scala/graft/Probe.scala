package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{DedupConfig, DedupPipeline}
import graft.sources.PagesGen

/** Dev-only probes behind one main. Every mode runs in a session from
  * Bench's own builder, `Bench.build(cpus, cpus * 4)`, with cpus from
  * SPARK_GRAFT_CPUS (default 32). Usage:
  *   SPARK_GRAFT_CPUS=4 SPARK_GRAFT_NDOCS=20000 sbt "runMain graft.Probe pairmass"
  *   SPARK_GRAFT_SF_DIR=<data> SPARK_GRAFT_PLANDIR=<dir> sbt "runMain graft.Probe plans"
  *   SPARK_GRAFT_SF_DIR=<data> sbt "runMain graft.Probe querylat"
  *
  *   pairmass  candidate-pair mass per SimHash hamming gate, and the hamming
  *             distribution of the true (cosine >= threshold) edges, on a
  *             generated corpus of SPARK_GRAFT_NDOCS docs (default 600000).
  *             The evidence behind DedupConfig's two pre-gate defaults:
  *             re-run it before trusting recall at a new scale.
  *   plans     formatted physical plans, as `<name><suffix>.txt` in
  *             SPARK_GRAFT_PLANDIR (default target/plans) with suffix
  *             SPARK_GRAFT_PLANSUFFIX (default empty): the dedup candidate
  *             and verify joins on 3,000 generated docs, then each named
  *             query.
  *   querylat  wall time of each named query, min over SPARK_GRAFT_PASSES
  *             passes (default 2); SPARK_GRAFT_JOBLOG=1 adds one line per
  *             Spark job.
  *
  * The named queries are SPARK_GRAFT_QUERIES (comma list, default the
  * bench's headline set) from `SparkEntry.queries` over SPARK_GRAFT_SF_DIR.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val probe: SparkSession => Unit = args.headOption match {
      case Some("pairmass") => pairMass
      case Some("plans") => plans
      case Some("querylat") => queryLat
      case _ => throw new IllegalArgumentException(
        "usage: graft.Probe pairmass|plans|querylat")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.build(cpus, cpus * 4)
    try probe(spark) finally spark.stop()
  }

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name the query data dir"))

  private def queryNames: Seq[String] = sys.env.getOrElse("SPARK_GRAFT_QUERIES",
    "q1_pricing_summary,q3_top_revenue,q5_nation_revenue,q_session_gaps," +
      "q_top_order_per_cust,d_exact_dedup,d_quality,e_cosine_topk,p_dedup_clusters")
    .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def pairMass(spark: SparkSession): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_NDOCS", "600000").toLong
    val scratch =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-probe"
      else "target"
    // keyed by nDocs (an unkeyed path silently reuses a differently-sized
    // corpus across probe runs); prefer the bench's identical corpus when
    // one already sits in tmpfs
    val benchCorpus = s"/dev/shm/graft-bench/corpus-n$nDocs-seed42.parquet"
    val corpusPath =
      if (new java.io.File(s"$benchCorpus/_SUCCESS").exists()) benchCorpus
      else s"$scratch/corpus-n$nDocs-seed42.parquet"
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists())
      PagesGen.generate(spark, nDocs, nDomains = 500, seed = 42L)
        .write.mode("overwrite").parquet(corpusPath)
    val pages = spark.read.parquet(corpusPath).select("url", "warc_ts", "text")

    // SPARK_GRAFT_PAIRMASS_MODE:
    //   all  (default) — raw histograms over the UNGATED pair stream + true
    //          edges from the ungated distinct set (600 k scale fits RAM);
    //   hist — raw histograms only;
    //   edges — true-edge histograms from the 64-BIT-GATED pair set only.
    //          At 2 M docs the ungated set (183.6 M distinct pairs x sparse
    //          vectors) does not fit in memory, while gate 23 keeps every
    //          true edge (max observed 64-bit hamming is 21 at 2 M docs) —
    //          so the gated set yields the IDENTICAL edge histograms at ~6x
    //          less memory.
    val mode = sys.env.getOrElse("SPARK_GRAFT_PAIRMASS_MODE", "all")
    val cfg =
      if (mode == "edges") DedupConfig(simhash128PregateMaxHamming = -1)
      else DedupConfig(simhashPregateMaxHamming = -1,
        simhash128PregateMaxHamming = -1)
    val sigs = DedupPipeline.signatures(pages, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[pairmass] sig rows=${sigs.count()}")

    // Raw band-join pair stream (pre-dedup, pre-gate) with hamming: this is
    // what crosses the pair-dedup exchange at a given gate. Count per
    // hamming bucket once and derive every gate's cost from the histogram,
    // for both the 64-bit and the 128-bit hamming.
    val rawPairs = DedupPipeline.candidatesRaw(DedupPipeline.withBands(sigs, cfg), cfg,
      emitHamming128 = true)
      .persist(StorageLevel.DISK_ONLY)
    def cumHist(name: String, colName: String): Unit = {
      val hist = rawPairs.groupBy(col(colName)).agg(count(lit(1)).as("n"))
        .orderBy(col(colName)).collect()
      val total = hist.map(_.getLong(1)).sum
      println(s"[pairmass] $name rows: $total")
      var cum = 0L
      hist.foreach { r =>
        cum += r.getLong(1)
        println(f"[pairmass] $name<=${r.getInt(0)}%3d cum_rows=$cum%12d (${100.0 * cum / total}%5.1f%%)")
      }
    }
    if (mode != "edges") {
      cumHist("hamming64", "simhash_hamming")
      cumHist("hamming128", "simhash_hamming128")
    }
    if (mode == "hist") return

    // Distinct candidate pairs and verified (cosine>=0.90) edges, with the
    // true-edge hamming distribution (64- and 128-bit): the recall
    // evidence for both gates.
    val distinctPairs = rawPairs.dropDuplicates("uid_a", "uid_b")
      .persist(StorageLevel.DISK_ONLY)
    println(s"[pairmass] distinct candidate pairs: ${distinctPairs.count()}")
    val edges = DedupPipeline.verifiedEdges(sigs, distinctPairs, cfg)
      .join(distinctPairs.select(col("uid_a"), col("uid_b"), col("simhash_hamming128")),
        Seq("uid_a", "uid_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"[pairmass] verified edges (cosine>=${cfg.threshold}): ${edges.count()}")
    Seq(("hamming64", "simhash_hamming"), ("hamming128", "simhash_hamming128"))
      .foreach { case (label, c) =>
        val edgeHist = edges.groupBy(col(c)).agg(count(lit(1)).as("n"))
          .orderBy(col(c)).collect()
        edgeHist.foreach { r =>
          println(f"[pairmass] EDGE $label=${r.getInt(0)}%3d n=${r.getLong(1)}%10d")
        }
        val maxH = if (edgeHist.nonEmpty) edgeHist.map(_.getInt(0)).max else -1
        println(s"[pairmass] max true-edge $label at nDocs=$nDocs: $maxH")
      }
  }

  private def plans(spark: SparkSession): Unit = {
    val sf = sfDir
    val dir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "target/plans"))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANSUFFIX", "")
    Files.createDirectories(dir)
    def dump(name: String, df: DataFrame): Unit =
      Files.writeString(dir.resolve(s"$name$suffix.txt"),
        df.queryExecution.explainString(FormattedMode)): Unit

    // `DedupPipeline.run` executes its stages eagerly, so the plan of
    // p_dedup_clusters shows only the tail after its checkpoints. The hot
    // joins are built lazily here (only candidatesRaw's bucket checkpoint
    // runs) and explained without running them.
    val cfg = DedupConfig()
    val pages = PagesGen.generate(spark, nDocs = 3000, nDomains = 100, seed = 42L)
    val sigs = DedupPipeline.signatures(pages, cfg)
    val cand = DedupPipeline.candidates(sigs, cfg)
    dump("dedup_candidates_join", cand)
    dump("dedup_verify_join", DedupPipeline.verifiedEdges(sigs, cand, cfg))

    SparkEntry.ensureAux(spark)
    queryNames.foreach(name => dump(name, SparkEntry.queries(name)(spark, sf)))
  }

  private def queryLat(spark: SparkSession): Unit = {
    val sf = sfDir
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
      val t00 = System.nanoTime()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          starts.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("spark.job.description")).getOrElse(""))): Unit
        override def onJobEnd(j: SparkListenerJobEnd): Unit = {
          val st = starts.remove(j.jobId)
          if (st != null) println(f"[job] id=${j.jobId}%3d t=${(st._1 - t00) / 1e9}%8.2f dur=${(System.nanoTime() - st._1) / 1e9}%7.2f ${st._2.take(70)}")
        }
      })
    }

    SparkEntry.ensureAux(spark) // aux export outside the timed loop, as in Bench
    queryNames.foreach { name =>
      val times = (1 to passes).map { p =>
        spark.sparkContext.setJobDescription(s"$name pass$p")
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sf).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[qlat] $name%-22s pass$p sec=$sec%7.3f")
        sec
      }
      println(f"[qlat] $name%-22s MIN sec=${times.min}%7.3f")
    }
  }
}
