package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{HashingEmbedder, MinHash}
import graft.functions.Fns
import graft.operators.{ConnectedComponents, DedupConfig, DedupPipeline, SkewOps}
import graft.runtime.Checkpoint

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** One timed call: its wall time and the process-wide measures around it. */
final case class Pass(wallS: Double, cpuS: Double, shuffleB: Long, taskS: Double,
                      peakScratchMb: Double, stealS: Double, sysS: Double,
                      t0: Long, t1: Long, traced: Boolean)

/** The benchmark program. See README.md for the workloads and metrics. */
object Main {
  private val cfg = DedupConfig()

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        smoke: Boolean, work: Path, cache: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", m.get("--smoke").contains("1"),
      Paths.get(need("--work")), Paths.get(need("--cache")))
  }

  // ------------------------------------------------------------ host probes

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  /** (system, steal) CPU seconds of the whole host, from /proc/stat. */
  private def hostSysSteal(): (Double, Double) = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val l = f.getLines().next().split("\\s+").drop(1).map(_.toDouble)
      (l(2) / 100.0, (if (l.length > 7) l(7) else 0.0) / 100.0)
    } finally f.close()
  } catch { case _: Exception => (0.0, 0.0) }

  private def dirBytes(p: Path): Long = {
    var total = 0L
    try {
      val it = Files.walk(p).iterator()
      while (it.hasNext) {
        val f = it.next()
        try if (Files.isRegularFile(f)) total += Files.size(f)
        catch { case _: java.io.IOException => () }
      }
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    total
  }

  /** Samples the size of `dir` every 100 ms until stopped; keeps the peak. */
  private final class ScratchSampler(dir: Path) extends Thread {
    @volatile private var running = true
    @volatile var peak: Long = dirBytes(dir)
    setDaemon(true)
    override def run(): Unit = while (running) {
      peak = math.max(peak, dirBytes(dir))
      Thread.sleep(100)
    }
    def finish(): Long = { running = false; join(); math.max(peak, dirBytes(dir)) }
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(f => Files.deleteIfExists(f): Unit)
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ------------------------------------------------------------ sessions

  /** One session per parallelism level. The shuffle-partition count is the
    * same at both levels (see `graft.Bench.build`): a level-sized count
    * would change block sizes and compression, so shuffle bytes and
    * scratch would not mean the same at N and 4N.
    */
  private def session(cpus: Int, shufParts: Int, localDir: Path): SparkSession = {
    Files.createDirectories(localDir)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$cpus")
      .config("spark.sql.shuffle.partitions", shufParts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolve("warehouse").toString)
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ one level

  /** Outputs and measures of the timed passes at one parallelism level. */
  final case class Level(passes: Seq[Pass], warmupS: Double, output: Seq[Row],
                         outputOk: Boolean, attempted: Int, failed: Int,
                         jobs: Seq[Seq[JobRec]])

  final class Runner(o: Opts, w: Workload, spark: SparkSession, listener: PhaseListener,
                     tracer: Tracer, input: DataFrame, localDir: Path) {
    val sc = spark.sparkContext
    var attempted = 0
    var failed = 0
    private var passNo = 0

    var lastRoot: Path = null

    /** One call into the program over the whole input. Returns a reader of
      * its output, or None when the call failed. Reading is left to the
      * caller so that it stays outside the timed part.
      */
    def call(tag: String): Option[() => Seq[Row]] = {
      passNo += 1
      sc.setJobDescription(null)
      if (w.incremental) {
        val root = o.work.resolve(s"ckpt-$tag-$passNo")
        rmTree(root)
        val days = try Checkpoint.runIncremental(spark, input, root.toString, cfg)
        catch { case e: Exception => System.err.println(s"[perfbench] drain failed: $e"); Seq.empty }
        sc.setJobDescription(null)
        attempted += w.days
        failed += w.days - days.size
        lastRoot = root
        if (days.size != w.days) None
        else Some(() => spark.read.parquet(root.resolve("output").toString).collect().toSeq)
      } else {
        attempted += 1
        try {
          val out = DedupPipeline.run(spark, input, cfg)
          sc.setJobDescription(null)
          Some(() => out.collect().toSeq)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] pipeline failed: $e")
            failed += 1
            None
        }
      }
    }

    /** A timed call: the wall clock covers the call into the program only. */
    def timed(tag: String, traced: Boolean): (Pass, Option[Seq[Row]]) = {
      System.gc() // let the cleaner drop the previous pass's shuffle files and blocks
      Thread.sleep(100)
      listener.drain()
      listener.traced = traced
      val sampler = new ScratchSampler(localDir)
      sampler.start()
      val (sys0, steal0) = hostSysSteal()
      val cpu0 = processCpuS
      val shuf0 = listener.shuffleB.get
      val task0 = listener.taskNs.get
      val t0 = System.nanoTime()
      val res = tracer.span(s"pass $tag") { call(tag) }
      val t1 = System.nanoTime()
      val cpu1 = processCpuS
      val (sys1, steal1) = hostSysSteal()
      val peak = sampler.finish()
      listener.drain()
      val pass = Pass((t1 - t0) / 1e9, cpu1 - cpu0, listener.shuffleB.get - shuf0,
        (listener.taskNs.get - task0) / 1e9, peak / 1e6, steal1 - steal0, sys1 - sys0,
        t0, t1, traced)
      listener.traced = o.trace
      (pass, res.map(_()))
    }

    /** `warm` warm-up calls, then timed passes for `seconds` (at least
      * `minPasses`).
      */
    def level(cpus: Int, warm: Int, seconds: Double, minPasses: Int): Level = {
      val tw = System.nanoTime()
      (0 until warm).foreach(i => tracer.span(s"warmup $cpus/$i") { call(s"w$cpus") })
      val warmupS = (System.nanoTime() - tw) / 1e9
      val passes = mutable.ArrayBuffer[Pass]()
      val outs = mutable.ArrayBuffer[Option[Seq[Row]]]()
      val jobs = mutable.ArrayBuffer[Seq[JobRec]]()
      val start = System.nanoTime()
      while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
        // traced runs alternate traced and untraced passes: the difference
        // is the tracing overhead
        val traced = o.trace && passes.size % 2 == 0
        val (p, out) = timed(s"$cpus/${passes.size}", traced)
        passes += p
        outs += out
        jobs += (if (traced) listener.jobsIn(p.t0, p.t1) else Nil)
      }
      val first = outs.head.map(canonical)
      val same = outs.forall(_.map(canonical) == first) && first.isDefined
      if (!same) failed += 1
      Level(passes.toSeq, warmupS, outs.head.getOrElse(Nil), same, attempted, failed,
        jobs.toSeq)
    }
  }

  /** An order-free form of a pass's output, to compare passes. */
  private def canonical(rows: Seq[Row]): Seq[String] =
    rows.map(r => (0 until r.length).filter(i => r.schema.fields(i).name != "day")
      .map(i => String.valueOf(r.get(i))).mkString("|")).sorted

  private def loadInput(spark: SparkSession, corpus: Path): (DataFrame, Long) = {
    val df = spark.read.parquet(corpus.toString).select("url", "warc_ts", "text")
      .persist(StorageLevel.DISK_ONLY)
    (df, df.count())
  }

  // ------------------------------------------------------------ traced extras

  /** Stage-boundary counts of the public stage calls over one batch. */
  private def funnel(spark: SparkSession, listener: PhaseListener,
                     pages: DataFrame): Map[String, Double] = {
    val t0 = System.nanoTime()
    val reps = pages.dropDuplicates("text").persist(StorageLevel.DISK_ONLY)
    val nReps = reps.count()
    val sigs = DedupPipeline.signatures(reps, cfg).persist(StorageLevel.DISK_ONLY)
    val buckets = sigs.filter(col("minhash").isNotNull)
      .select(col("uid"), posexplode(Fns.lshBucketsUdf(cfg.bands)(col("minhash"))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      .persist(StorageLevel.DISK_ONLY)
    val nBucket = buckets.count()
    val nKept = SkewOps.capHotBuckets(buckets, Seq(col("band"), col("bucket")),
      cfg.maxBucketSize).count()
    val cand = DedupPipeline.candidates(sigs, cfg).persist(StorageLevel.DISK_ONLY)
    val nCand = cand.count()
    val edges = DedupPipeline.verifiedEdges(sigs, cand, cfg)
      .select(col("uid_a").as("src"), col("uid_b").as("dst"))
      .persist(StorageLevel.DISK_ONLY)
    val nEdges = edges.count()
    val vertices = edges.select(col("src").as("id")).union(edges.select(col("dst").as("id")))
    ConnectedComponents.run(spark, vertices, edges).count()
    spark.sparkContext.setJobDescription(null)
    listener.drain()
    val round = "cc: round (\\d+).*".r
    val rounds = listener.jobsIn(t0, System.nanoTime()).flatMap(j =>
      Option(j.description).collect { case round(k) => k.toInt }).foldLeft(0)(math.max)
    Seq(reps, sigs, buckets, cand, edges).foreach(_.unpersist())
    Map("funnel.docs" -> pages.count().toDouble, "funnel.reps" -> nReps.toDouble,
      "funnel.bucket_rows" -> nBucket.toDouble, "funnel.candidates" -> nCand.toDouble,
      "funnel.edges" -> nEdges.toDouble, "funnel.cc_rounds" -> rounds.toDouble,
      "skew.cap_drop_frac" -> (if (nBucket == 0) 0.0 else 1.0 - nKept.toDouble / nBucket))
  }

  // kernel results land here so the JIT cannot drop the timed calls
  @volatile private var sink = 0L

  /** Single-thread kernel cost over a fixed sample of the input's texts. */
  private def kernel(texts: Array[String]): Map[String, Double] = {
    def usPerDoc(f: String => Long): Double = {
      texts.foreach(t => sink ^= f(t)) // warm the JIT on this exact loop
      val runs = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        texts.foreach(t => sink ^= f(t))
        (System.nanoTime() - t0) / 1e3 / texts.length
      }
      median(runs)
    }
    Map(
      "core.sig_us_per_doc" -> usPerDoc { t =>
        val sh = MinHash.shingles(t, cfg.shingleK)
        if (sh.isEmpty) 0L
        else MinHash.simHash128(sh)(0) ^ MinHash.signatureOPH(sh, cfg.numHashes, cfg.seed)(0)
      },
      "core.embed_us_per_doc" -> usPerDoc(t => HashingEmbedder.embedSparse(t).packed.length.toLong))
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val procStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val o = parse(args)
    val w = Workload(o.workload, o.smoke)
    val hi = Runtime.getRuntime.availableProcessors()
    val lo = math.max(1, hi / 4)
    val shufParts = 4 * hi
    Files.createDirectories(o.work)
    val tracer = new Tracer(s"${w.name}-${o.seed}-${ProcessHandle.current().pid()}")
    val failures = mutable.ArrayBuffer[String]()

    // ---- 4N: session, corpus, input, warm-up, timed passes -------------
    val hiDir = o.work.resolve("local-hi")
    var spark = session(hi, shufParts, hiDir)
    var listener = new PhaseListener
    spark.sparkContext.addSparkListener(listener)

    val corpus = o.cache.resolve(s"${w.name}-n${w.docs}-d${w.days}-s${o.seed}.parquet")
    val genT0 = System.nanoTime()
    if (!Files.exists(corpus.resolve("_SUCCESS")))
      w.generate(spark, o.seed).write.mode("overwrite").parquet(corpus.toString)
    val genS = (System.nanoTime() - genT0) / 1e9

    listener.traced = o.trace
    val (input, nDocs) = loadInput(spark, corpus)
    var runner = new Runner(o, w, spark, listener, tracer, input, hiDir)
    val hiLevel = runner.level(hi, w.warm, o.seconds, w.passes)
    // set-up ends where the first timed call starts
    val firstTimedMs = System.currentTimeMillis() -
      (System.nanoTime() - hiLevel.passes.head.t0) / 1000000L
    val setupS = (firstTimedMs - procStartMs) / 1e3 - genS

    // ---- daily_incremental: the no-op resume and the table checks ------
    val extra = mutable.LinkedHashMap[String, Double]()
    if (w.incremental) {
      val root = runner.lastRoot.toString
      val tr = System.nanoTime()
      val again = Checkpoint.runIncremental(spark, input, root, cfg)
      extra("checkpoint.resume_s") = (System.nanoTime() - tr) / 1e9
      spark.sparkContext.setJobDescription(null)
      if (again.nonEmpty) failures += s"resume processed ${again.size} days"
      val m = spark.read.parquet(s"$root/metrics").collect()
      val completed = m.filter(_.getAs[String]("status") == "COMPLETED")
      if (m.length != w.days || completed.map(_.getAs[String]("day")).distinct.length != w.days)
        failures += s"metrics table has ${m.length} rows (${completed.length} COMPLETED) for ${w.days} days"
      if (Files.exists(Paths.get(root, "gaps")) &&
          spark.read.parquet(s"$root/gaps").count() > 0) failures += "gap rows recorded"
      extra("checkpoint.day_commit_s_p50") =
        median(completed.map(_.getAs[Long]("elapsedMs") / 1e3).toSeq)
    }

    // ---- traced run: funnel and kernel at 4N, then the level N ---------
    var loLevel: Option[Level] = None
    if (o.trace) {
      extra ++= tracer.span("funnel") {
        if (!w.incremental) funnel(spark, listener, input)
        else {
          val day = date_format(col("warc_ts"), "yyyy-MM-dd")
          val days = input.select(day).distinct().collect().map(_.getString(0)).sorted
          val per = days.map(d => funnel(spark, listener, input.filter(day === d)))
          per.head.keys.map { k =>
            k -> (if (k == "funnel.cc_rounds") per.map(_(k)).max
                  else if (k == "skew.cap_drop_frac") median(per.map(_(k)).toSeq)
                  else per.map(_(k)).sum)
          }.toMap
        }
      }
      val sample = input.select("text").orderBy("url").limit(1000).collect().map(_.getString(0))
      extra ++= tracer.span("kernel")(kernel(sample))
    }
    val corpusRows = spark.read.parquet(corpus.toString)
    val truth = Truth.pairs(corpusRows, cfg.threshold, w.incremental)
    val ts = corpusRows.select("url", "warc_ts").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    input.unpersist()
    spark.stop()
    if (o.trace) {
      // same input and the same shuffle-partition count at N
      val loDir = o.work.resolve("local-lo")
      spark = session(lo, shufParts, loDir)
      listener = new PhaseListener
      spark.sparkContext.addSparkListener(listener)
      val (inputLo, _) = loadInput(spark, corpus)
      runner = new Runner(o, w, spark, listener, tracer, inputLo, loDir)
      loLevel = Some(runner.level(lo, 1, 0, 2))
      inputLo.unpersist()
      spark.stop()
    }

    // ---- output checks --------------------------------------------------
    val recall = Truth.recall(truth, hiLevel.output, cfg.maxGroupSize, ts)
    if (recall < 0.99) failures += f"dup_pair_recall $recall%.4f < 0.99"
    val viol = Truth.clusterViolations(hiLevel.output, cfg.maxGroupSize)
    if (viol.nonEmpty) failures += s"${viol.size} cluster violations, e.g. ${viol.head}"
    if (!hiLevel.outputOk || loLevel.exists(!_.outputOk)) failures += "passes gave different outputs"
    if (loLevel.exists(l => canonical(l.output) != canonical(hiLevel.output)))
      failures += "outputs differ between N and 4N"
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

    val levels = hiLevel +: loLevel.toSeq
    val attempted = levels.map(_.attempted).sum
    val failed = levels.map(_.failed).sum + failures.size
    val hp = hiLevel.passes
    // Times come from the fastest timed pass: host noise (other tenants,
    // JIT timing) only ever slows a pass down. Byte counts are medians.
    val wallHi = hp.map(_.wallS).min

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!o.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("docs_per_s") = (nDocs / wallHi, "docs/s")
      metrics("cpu_core_s_per_kdoc") = (hp.map(_.cpuS).min / (nDocs / 1e3), "core-s/kdoc")
      metrics("shuffle_b_per_doc") = (median(hp.map(_.shuffleB.toDouble / nDocs)), "B/doc")
      metrics("peak_scratch_mb") = (median(hp.map(_.peakScratchMb)), "MB")
      metrics("dup_pair_recall") = (recall, "ratio")
    } else {
      val stats = hp.zip(hiLevel.jobs).filter(_._1.traced)
        .map { case (p, js) => (p, PhaseStats.byPhase(js), js) }
      def med(f: ((Pass, Map[String, PhaseStats], Seq[JobRec])) => Double) = median(stats.map(f))
      val fields: Seq[(String, String, PhaseStats => Double)] = Seq(
        ("wall_s", "s", _.wallS), ("task_s", "s", _.taskS), ("cpu_s", "s", _.cpuS),
        ("gc_s", "s", _.gcS), ("jobs", "count", _.jobs.toDouble),
        ("tasks", "count", _.tasks.toDouble), ("shuffle_w_mb", "MB", _.shufWMb),
        ("shuffle_r_mb", "MB", _.shufRMb), ("spill_mb", "MB", _.spillMb),
        ("task_skew", "ratio", _.taskSkew))
      for (ph <- Phases.Names; (n, unit, g) <- fields)
        metrics(s"phase.$ph.$n") = (med(s => g(s._2(ph))), unit)
      extra.foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
      metrics("funnel.clustered_docs") = (hiLevel.output.size.toDouble, "count")
      metrics("funnel.clusters") =
        (hiLevel.output.map(_.getAs[String]("cluster_id")).distinct.size.toDouble, "count")
      val cand = extra.getOrElse("funnel.candidates", 0.0)
      metrics("verify.yield") = (if (cand > 0) extra("funnel.edges") / cand else 0.0, "ratio")
      metrics("sched.jobs_per_run") = (med(_._3.size.toDouble), "count")
      metrics("sched.slot_util") = (med(s => s._1.taskS / (s._1.wallS * hi)), "ratio")
      metrics("sched.idle_s") = (med(s => s._1.wallS - s._1.taskS / hi), "s")
      val wallLo = loLevel.get.passes.map(_.wallS).min
      metrics("sched.docs_per_s_n") = (nDocs / wallLo, "docs/s")
      metrics("sched.scaling_eff") = (wallLo * lo / (wallHi * hi), "ratio")
      metrics("checkpoint.write_s") =
        (if (!w.incremental) 0.0
         else med(s => (s._1.wallS - PhaseStats.unionWallS(
           s._3.filter(j => Phases.Dedup(j.phase)))) / w.days), "s")
      for (k <- Seq("checkpoint.day_commit_s_p50", "checkpoint.resume_s") if !metrics.contains(k))
        metrics(k) = (0.0, "s")
      metrics("host.steal_s") = (hp.map(_.stealS).sum, "s")
      metrics("host.sys_s") = (hp.map(_.sysS).sum, "s")
      metrics("warmup_s") = (hiLevel.warmupS, "s")
      metrics("trace.overhead_s") =
        (median(stats.map(_._1.wallS)) - median(hp.filterNot(_.traced).map(_.wallS)), "s")
      metrics("trace.phase_coverage") =
        (med(s => s._2.values.map(_.taskS).sum / math.max(s._1.taskS, 1e-9)), "ratio")
      tracer.addJobs(hiLevel.jobs.flatten)
      val tracePath = o.cache.getParent.resolve("traces")
        .resolve(s"${w.name}-s${o.seed}-${ProcessHandle.current().pid()}.jsonl")
      tracer.write(tracePath)
      System.err.println(s"[perfbench] spans written to $tracePath")
    }
    System.err.println(f"[perfbench] ${w.name}: $nDocs docs, gen $genS%.1f s, " +
      f"setup $setupS%.1f s, warm-up ${hiLevel.warmupS}%.1f s, 4N passes (wall/cpu/steal) " +
      hp.map(p => f"${p.wallS}%.2f/${p.cpuS}%.1f/${p.stealS}%.2f").mkString(" ") +
      loLevel.map(l => ", N passes " + l.passes.map(p => f"${p.wallS}%.2f").mkString(",")).getOrElse(""))

    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  private def unitOf(k: String): String = k match {
    case k if k.startsWith("core.") => "us/doc"
    case "skew.cap_drop_frac" => "ratio"
    case k if k.startsWith("funnel.") => "count"
    case _ => "s"
  }
}
