package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.operators.{DedupConfig, DedupPipeline}
import graft.sources.PagesGen

/** Benchmark main. Emits ONE JSON line:
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
  *  "dedup":{...},"scaling":{...,"runs":[...],"controls":{...}}}
  *
  * Two measurements:
  *
  *   - **scaling** (the north rule's N vs 4N evidence): the same job, same
  *     input bytes, at local[hi/4] and local[hi] (hi = SPARK_GRAFT_CPUS,
  *     default 32); efficiency = thr(4N) / (4 * thr(N)).
  *   - **dedup** (the headline docs/sec): the best scaling-hi run.
  *
  * Measurement protocol (this host's wall clock has multi-x noise bursts —
  * hypervisor throttling windows have slowed identical runs 10x):
  *   - the corpus is generated ONCE and parqueted to RAM disk; every
  *     measurement session reads the same files (generation excluded from
  *     all timings, identical input bytes per run)
  *   - an untimed warmup run first: JIT + codegen caches are JVM-wide, so
  *     all timed runs execute hot code (a cluster benchmark likewise
  *     measures steady-state executors, not JVM warmup)
  *   - a FIXED number of interleaved lo,hi pairs (no adaptive stopping —
  *     a stop-when-passing rule is optional stopping and biases the
  *     estimate; flagged in round-2 review, removed). Each level reports
  *     its best run: noise bursts only ever SLOW a run, so max-of-runs
  *     estimates the true rate; interleaving keeps slow drift from
  *     biasing one level. ALL raw runs are emitted.
  *   - every run carries its Spark-measured cpu_core_sec / gc_sec /
  *     read_mb / shuffle_mb, and the JSON carries two same-window
  *     CONTROLS measured around the runs:
  *       kernel:  the pure-JVM per-doc kernel (shingle+OPH+simhash+embed)
  *                at lo and hi threads — the box's achievable CPU scaling
  *                for exactly this compute, in this hypervisor window;
  *       membw:   aggregate streaming memory bandwidth at lo and hi
  *                threads — the box's shared-bus ceiling.
  *     If the box is being throttled (or the bus is saturated), the
  *     controls prove it in the artifact itself rather than in prose:
  *     compare `efficiency` against `controls.kernel.efficiency`.
  */
object Bench {

  private[graft] def build(cpus: Int, shufParts: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      // Shuffle partitions are DATA-sized and FIXED across parallelism
      // levels (cluster semantics: spark.sql.shuffle.partitions does not
      // change when you add executors — the same map outputs just spread
      // over more cores). Round 4 set 4x the LEVEL's cpus, which (a) at
      // cpus-sized counts gave each hash-agg/join task a ~1 GB working set
      // whose allocations convoyed under the UnifiedMemoryManager lock
      // (observed live at 2M docs: 32 threads BLOCKED, 94% kernel time),
      // and (b) quietly handed the lo level a partition-count advantage
      // the hi level cannot have on a cluster: 32-partition shuffles
      // compress better than 128-partition ones (measured 68.6 vs 77.4 GB
      // for the identical 2M-doc job), so the "scaling" number partly
      // measured block-size compression, not parallelism.
      .config("spark.sql.shuffle.partitions", shufParts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // This host has multi-minute hypervisor windows where guest threads
      // run at a few % of speed; the default 10 s executor heartbeat then
      // starves and Spark kills its own (in-process) executor with exit 56
      // — observed twice on the round-4 2M-doc rehearsals. A watchdog
      // abort is recoverable; a heartbeat suicide kills the whole bench.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // bench-only: RAM-backed shuffle scratch (single-node stand-in for a
      // cluster's local SSDs; /tmp here is the one spinning root disk and
      // would serialize all threads behind it). Spark removes its spark-*
      // subdirs on stop. Falls back to the default when tmpfs is
      // unavailable.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bench"
        else System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ controls

  /** Aggregate streaming memory bandwidth (GB/s) with `threads` workers,
    * each summing its own 64 MB long array (cold-ish: arrays exceed L2,
    * alternate stride defeats prefetch-sharing). Best of `reps` passes.
    */
  private def memBandwidthGBps(threads: Int, reps: Int = 3): Double = {
    val words = (64 << 20) / 8
    val arrays = Array.fill(threads)(Array.tabulate(words)(i => i.toLong))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val fs = arrays.map { a =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = { var s = 0L; var i = 0; while (i < a.length) { s += a(i); i += 1 }; s }
          })
        }
        fs.foreach(_.get())
        val sec = (System.nanoTime() - t0) / 1e9
        threads.toLong * words * 8 / sec / 1e9
      }.max
    } finally { pool.shutdown(): Unit }
  }

  /** Pure-JVM per-doc kernel throughput (docs/s) at `threads` threads over
    * the SAME kernel the pipeline's signatures UDF runs
    * ([[graft.functions.Fns.docSignature]]: shingles + OPH MinHash +
    * SimHash-128 + sparse trigram embedding) on a sample of the bench
    * corpus. This is the box's achievable CPU-scaling ceiling for this
    * compute, measured in the same hypervisor window as the Spark runs.
    */
  private def kernelDocsPerSec(threads: Int, texts: Array[String]): Double = {
    val cfg = DedupConfig()
    val n = texts.length
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val chunk = math.max(1, n / threads)
      val fs = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var acc = 0L
            var i = t * chunk
            val end = if (t == threads - 1) n else math.min(n, (t + 1) * chunk)
            while (i < end) {
              val s = graft.functions.Fns.docSignature(
                texts(i), cfg.shingleK, cfg.numHashes, cfg.seed)
              if (s.minhash != null) acc ^= s.minhash(0) ^ s.simhash ^ s.simhash2
              acc ^= s.svec.packed.length
              i += 1
            }
            acc
          }
        })
      }
      fs.foreach(_.get())
      n / ((System.nanoTime() - t0) / 1e9)
    } finally { pool.shutdown(): Unit }
  }

  // ------------------------------------------------------------ metrics

  private final class TaskAgg extends SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val readB = new java.util.concurrent.atomic.AtomicLong
    val shufRB = new java.util.concurrent.atomic.AtomicLong
    val shufWB = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        readB.addAndGet(m.inputMetrics.bytesRead)
        shufRB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWB.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    }
  }

  final case class Run(cpus: Int, sec: Double, docsPerSec: Double,
                       cpuCoreSec: Double, gcSec: Double,
                       readMb: Double, shuffleMb: Double,
                       stealSec: Double, sysSec: Double,
                       aborted: Boolean = false, codegenCompiles: Long = 0L) {
    def json: String =
      f"""{"cpus":$cpus,"sec":$sec%.2f,"docs_per_sec":$docsPerSec%.1f,"cpu_core_sec":$cpuCoreSec%.1f,"gc_sec":$gcSec%.1f,"read_mb":$readMb%.1f,"shuffle_mb":$shuffleMb%.1f,"host_steal_sec":$stealSec%.1f,"host_sys_sec":$sysSec%.1f,"aborted":$aborted,"codegen_compiles":$codegenCompiles}"""
  }

  /** Classes Spark's code generator has compiled in this JVM so far; the
    * delta over a call is the code that call did not find in the cache.
    */
  private def codegenCompiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** (user+nice, system, steal) CPU seconds from /proc/stat — hypervisor
    * steal during a run is the direct evidence of a throttling window.
    */
  private def hostCpu(): (Double, Double, Double) = try {
    val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toDouble)
    ((l(0) + l(1)) / 100.0, l(2) / 100.0, (if (l.length > 7) l(7) else 0.0) / 100.0)
  } catch { case _: Throwable => (0.0, 0.0, 0.0) }

  /** Timed dedup run at a given parallelism over the pre-generated corpus.
    * Corpus read+persist happens before the clock.
    *
    * `capSec`: a daemon watchdog cancels all jobs once the cap elapses and
    * the run is recorded as `aborted` with its elapsed time. This host has
    * multi-minute windows where guest threads run at a fraction of speed
    * (phantom system time — see BASELINE.md); a poisoned run would
    * otherwise take tens of minutes to produce a number that best-of-N
    * discards anyway. Truncating it is statistically neutral for a
    * best-of estimator (the abandoned sample could only have been worse
    * than the cap implies) and bounds the artifact's wall time.
    */
  private def dedupThroughput(cpus: Int, shufParts: Int, corpusPath: String,
                              nDocs: Long, capSec: Long): Run = {
    val spark = build(cpus, shufParts)
    val wallT0 = System.nanoTime()
    @volatile var fired = false
    val watchdog = new Thread(() => {
      try {
        Thread.sleep(capSec * 1000L)
        fired = true
        spark.sparkContext.cancelAllJobs()
      } catch { case _: InterruptedException => () }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    try {
      val agg = new TaskAgg
      spark.sparkContext.addSparkListener(agg)
      val h0 = hostCpu()
      try {
        // bigCacheLevel (DISK_ONLY): on-heap corpus text is
        // eviction bait for the timed run's sorts (see DedupPipeline.run's
        // `keyed` note); scratch is tmpfs here so re-reads are RAM-speed
        // deserialization.
        val pages = spark.read.parquet(corpusPath)
          .select("url", "warc_ts", "text") // only what the pipeline reads
          .persist(DedupPipeline.bigCacheLevel)
        pages.count() // materialize input outside the timed section
        agg.cpuNs.set(0); agg.gcMs.set(0); agg.readB.set(0)
        agg.shufRB.set(0); agg.shufWB.set(0)
        val c0 = codegenCompiles()
        val t0 = System.nanoTime()
        val n = DedupPipeline.run(spark, pages, DedupConfig()).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val compiles = codegenCompiles() - c0
        val h1 = hostCpu()
        Thread.sleep(500) // let the async listener bus drain the last taskEnds
        val run = Run(cpus, sec, nDocs / sec, agg.cpuNs.get / 1e9,
          agg.gcMs.get / 1e3, agg.readB.get / 1e6,
          (agg.shufRB.get + agg.shufWB.get) / 1e6,
          h1._3 - h0._3, h1._2 - h0._2, codegenCompiles = compiles)
        System.err.println(f"[bench] cpus=$cpus%2d sec=$sec%8.2f docs_per_sec=${nDocs / sec}%9.1f cpu=${run.cpuCoreSec}%7.1f gc=${run.gcSec}%5.1f shuf_mb=${run.shuffleMb}%8.1f steal=${run.stealSec}%5.1f sys=${run.sysSec}%6.1f out=$n")
        pages.unpersist()
        run
      } catch {
        case e: Throwable if fired =>
          val h1 = hostCpu()
          val sec = (System.nanoTime() - wallT0) / 1e9
          System.err.println(f"[bench] cpus=$cpus%2d ABORTED at cap ${capSec}s (host window poisoned; sys=${h1._2 - h0._2}%.0fs steal=${h1._3 - h0._3}%.0fs)")
          Run(cpus, sec, nDocs / sec, agg.cpuNs.get / 1e9, agg.gcMs.get / 1e3,
            agg.readB.get / 1e6, (agg.shufRB.get + agg.shufWB.get) / 1e6,
            h1._3 - h0._3, h1._2 - h0._2, aborted = true)
      }
    } finally {
      watchdog.interrupt()
      if (fired) {
        // Quiesce before stop: cancelAllJobs leaves tasks in flight, and
        // stopping the scheduler under them spews RejectedExecutionException
        // walls that bury the [bench] lines in the artifact tail
        // (BENCH_r04's tail was exactly this). Drain active jobs (bounded),
        // then silence the logger for the teardown races that remain.
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
               System.nanoTime() < deadline) Thread.sleep(200)
        spark.sparkContext.setLogLevel("OFF")
      }
      spark.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    // ---- global wall-clock budget, measured from true PROCESS START (the
    // external driver times the whole command, so sbt startup + compile —
    // and any slow JVM init in a host throttle window — all count against
    // its kill timer). BENCH_r04 was rc=124/parsed:null because the
    // artifact was emitted all-or-nothing at the very end and the
    // worst-case pair schedule exceeded that timer. Crash-only design:
    //   - stop ADDING timed pairs when the remaining budget can't fit one
    //     (pair 1 always runs, with caps shrunk to fit, so the scaling gate
    //     is evaluated even in a degraded window);
    //   - print the best-so-far artifact line after EVERY pair and from a
    //     JVM shutdown hook — downstream takes the last parsable line, so
    //     even a kill leaves a valid artifact with `pairs_completed` fewer.
    //
    // Clock anchor: RuntimeMXBean.getStartTime is recorded AFTER VM init on
    // JDK 17 — when VM init is slow (at the time: AlwaysPreTouch faulting a
    // 48 GiB -Xms heap inside a host throttle window, 15-20 MINUTES) the
    // budget would never see it (observed live: the corpus line printed
    // "elapsed 45 s" from a JVM that ps showed 23 minutes old).
    // ProcessHandle.startInstant() is the kernel's fork timestamp. Walk to
    // ancestors (the sbt launcher JVM and
    // its shell wrapper) while they plausibly belong to this same timed
    // command — started < 30 min before the child — so sbt startup+compile
    // count too; the long-lived driver daemon above them is excluded by the
    // same rule.
    val jvmStartMs: Long = {
      def startMs(h: ProcessHandle): Option[Long] =
        try {
          val o = h.info().startInstant()
          if (o.isPresent) Some(o.get.toEpochMilli) else None
        } catch { case _: Throwable => None }
      var anchor = startMs(ProcessHandle.current())
        .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
      var cur = ProcessHandle.current()
      var hops = 0
      while (hops < 3 && cur.parent().isPresent) {
        cur = cur.parent().get
        startMs(cur) match {
          case Some(ms) if ms <= anchor && anchor - ms < 30 * 60 * 1000L =>
            anchor = ms
          case _ => hops = 3 // stop at the first ancestor outside the window
        }
        hops += 1
      }
      anchor
    }
    def elapsedSec: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET", "2700").toDouble
    def remainingSec: Double = budgetSec - elapsedSec

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hiCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val loCpus = math.max(1, hiCpus / 4)
    // one data-sized shuffle-partition count for BOTH levels (see build's
    // note): 4 waves at the hi level, whose per-task memory cap is the
    // binding constraint
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFPARTS",
      math.max(4, hiCpus * 4).toString).toInt
    val pairs = sys.env.getOrElse("SPARK_GRAFT_PAIRS", "3").toInt
    // caps sized for the 2 M-doc corpus: healthy-window lo ~360-590 s / hi
    // ~135-195 s (round-5 measured range across host windows), so a
    // healthy run is never truncated while a poisoned one (this host has
    // multi-minute throttle windows) is cut early. 650/350 (not 700/400):
    // the budget gate admits pair k+1 only while capLo+capHi+reserve fits
    // the remaining budget, so tighter caps buy a third interleaved pair
    // in typical windows — more pairs = better odds that BOTH levels
    // sample a quiet window for the best-of estimator.
    val capLo = sys.env.getOrElse("SPARK_GRAFT_CAP_LO", "650").toLong
    val capHi = sys.env.getOrElse("SPARK_GRAFT_CAP_HI", "350").toLong
    // reserved for the window-2 controls after the last pair
    val controlReserve = sys.env.getOrElse("SPARK_GRAFT_CONTROL_RESERVE", "150").toDouble
    val headline = Seq("q1_pricing_summary", "q3_top_revenue", "q5_nation_revenue",
      "q_session_gaps", "q_top_order_per_cust", "d_exact_dedup", "d_quality",
      "e_cosine_topk", "p_dedup_clusters")

    @volatile var lastArtifact: String = null
    @volatile var finalEmitted = false
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // a SIGTERM kill (driver timeout) still leaves the last snapshot
      if (!finalEmitted && lastArtifact != null) {
        println(lastArtifact); System.out.flush()
      }
    }))

    val scratch =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bench"
      else "target"

    // Sweep scratch leaked by KILLED predecessors: a driver-timeout SIGKILL
    // skips Spark's stop() cleanup and leaves blockmgr-*/spark-* dirs in
    // tmpfs (observed live: a 27 GB blockmgr from a killed rehearsal). On
    // RAM-backed scratch that is memory stolen from every subsequent run —
    // and guest memory pressure shows up as the same phantom-sys signature
    // as a host throttle window, poisoning the very runs this bench is
    // trying to measure. Only dirs idle >10 min are removed, so an actually
    // concurrent bench (never the case under the one-at-a-time driver) is
    // left alone. The corpus-*.parquet caches are deliberately kept.
    locally {
      val cutoff = System.currentTimeMillis() - 10 * 60 * 1000L
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(): Unit
      }
      val stale = Option(new java.io.File(scratch).listFiles())
        .getOrElse(Array.empty).filter { f =>
          (f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-")) &&
            f.lastModified < cutoff
        }
      stale.foreach(rm)
      if (stale.nonEmpty) System.err.println(
        s"[bench] scratch: swept ${stale.length} stale dir(s) left by killed predecessors")
    }

    val spark = build(hiCpus, shufParts) // query/gen session (gen is the big cost)
    // scaling corpus: sized so distributed compute dominates the pipeline's
    // serial job barriers at the lo level. Time model t(p) = C/p + F:
    // round-4 clean-window fits give C ~ 1.2 core-ms/doc (the shuffle cuts
    // more than halved round 3's C) and F ~ 24 s of per-run fixed cost (AQE
    // stage scheduling, eager-materialization barriers, CC rounds). At the
    // old 120x corpus (600 k docs) C/8 is only ~3.6x F and the measured
    // ceiling on 8->32 efficiency is ~0.6 REGARDLESS of engine quality;
    // 400x (2 M docs at sf0.1) puts C/8 at ~12x F, lifting the clean-window
    // ceiling to ~0.85+ while a healthy lo run (~330 s) stays under its
    // watchdog cap. Needs the 48g default heap (build.sbt) — at 32g the
    // 2 M-doc persists GC-starve the in-JVM heartbeats (exit 56).
    // Overridable via SPARK_GRAFT_NDOCS.
    val nDocs = sys.env.get("SPARK_GRAFT_NDOCS").map(_.toLong).getOrElse(
      math.max(100000L, 400 * spark.read.parquet(s"$sfDir/documents.parquet").count()))
    // one-time corpus generation (identical bytes for every level), FIRST so
    // the budget arithmetic downstream works with the real cost. The path is
    // keyed by (nDocs, seed), NOT pid, and is REUSED when a complete
    // (_SUCCESS-marked) copy already sits in tmpfs: the round-4 driver
    // retried the killed bench 4 times and paid full generation each time.
    val corpusPath = s"$scratch/corpus-n$nDocs-seed42.parquet"
    val genT0 = System.nanoTime()
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists())
      PagesGen.generate(spark, nDocs, nDomains = 500, seed = 42L)
        .write.mode("overwrite").parquet(corpusPath)
    val genSec = (System.nanoTime() - genT0) / 1e9
    System.err.println(f"[bench] corpus: $nDocs docs, gen $genSec%.1f s (elapsed $elapsedSec%.0f / budget $budgetSec%.0f s)")
    // materialize the oracle aux parquet OUTSIDE the timed loop (no-op when
    // fresh on disk) — round-3's p_dedup_clusters regression was this write
    // landing inside the timed query
    SparkEntry.ensureAux(spark)
    // Up to TWO passes over the headline queries, per-query best (min).
    // Same rationale as the dedup best-of: this host's noise windows only
    // ever SLOW a run (the round-4 rehearsal caught the whole query loop
    // inside a poisoned window — q5 13x, p_dedup_clusters 6x their quiet
    // times), so min-of-fixed-N estimates the true cost without optional
    // stopping. Pass 1 doubles as the JIT/codegen warmup for pass 2; pass 2
    // is skipped when the budget wouldn't otherwise fit a full timed pair
    // plus controls (the per-query min-of-2 is a nicety, not a gate).
    val queryPassesMax = sys.env.getOrElse("SPARK_GRAFT_QUERY_PASSES", "2").toInt
    val qt = scala.collection.mutable.LinkedHashMap[String, Double]()
    var lastPassSec = 0.0
    (1 to queryPassesMax).foreach { p =>
      if (p == 1 || remainingSec > lastPassSec + capLo + capHi + 2 * controlReserve) {
        val tp = System.nanoTime()
        headline.foreach { name =>
          val t0 = System.nanoTime()
          try SparkEntry.queries(name)(spark, sfDir).count()
          catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}") }
          val sec = (System.nanoTime() - t0) / 1e9
          qt(name) = math.min(qt.getOrElse(name, Double.MaxValue), sec)
        }
        lastPassSec = (System.nanoTime() - tp) / 1e9
      } else System.err.println(
        f"[bench] budget: skipping query pass $p (remaining $remainingSec%.0f s)")
    }
    val queryTimes = qt.toSeq
    // untimed warmup so every timed run executes JIT-hot code. 200k docs
    // (not 30k): every session's FIRST corpus-scale 32-thread run carries a
    // one-time penalty the rest of that session never repays (measured in
    // all three round-5 full-protocol runs: first hi run cpu 5013-6830
    // core-s, later hi runs monotonically down to 3426-4606 on identical
    // input) — a 30k-doc warmup exercises the code paths but not the
    // tmpfs/page-fault churn that penalty lives in. 200k is ~25 s and
    // churns ~10x the pages.
    val warm = spark.read.parquet(corpusPath).limit(200000)
    DedupPipeline.run(spark, warm, DedupConfig()).count()
    // kernel-control sample: real corpus texts (hits the same embed cache
    // behavior as the pipeline)
    val kernelSample = spark.read.parquet(corpusPath).limit(20000)
      .select("text").collect().map(_.getString(0))
    spark.stop()

    // ---- controls, window 1 (before the timed runs; cheap, so every
    // per-pair artifact snapshot carries real control numbers) ----
    kernelDocsPerSec(4, kernelSample) // JIT warm
    val kLo1 = kernelDocsPerSec(loCpus, kernelSample)
    val kHi1 = kernelDocsPerSec(hiCpus, kernelSample)
    val bwLo1 = memBandwidthGBps(loCpus)
    val bwHi1 = memBandwidthGBps(hiCpus)
    System.err.println(f"[bench] controls w1: kernel lo=$kLo1%.0f hi=$kHi1%.0f docs/s, membw lo=$bwLo1%.1f hi=$bwHi1%.1f GB/s (elapsed $elapsedSec%.0f s)")

    val runs = scala.collection.mutable.ArrayBuffer[Run]()
    // Best-of per level over COMPLETED runs only. An aborted run's
    // docs_per_sec is nDocs/elapsed for work never finished — an upper
    // bound on a throughput it never achieved — so it must not compete in
    // the max. If a level has NO completed run the headline is marked
    // invalid (all_aborted) rather than built from a phantom number.
    def bestOf(cpus: Int): (Run, Boolean) = {
      val (completed, aborted) = runs.filter(_.cpus == cpus).partition(!_.aborted)
      if (completed.nonEmpty) (completed.maxBy(_.docsPerSec), false)
      else if (aborted.nonEmpty) (aborted.maxBy(_.docsPerSec).copy(docsPerSec = 0.0), true)
      else (Run(cpus, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, aborted = true), true)
    }
    // actual core ratio, not a hard-coded 4 (SPARK_GRAFT_CPUS may not be
    // divisible by 4; loCpus = max(1, hi/4) floors)
    val coreRatio = hiCpus.toDouble / loCpus

    /** Best-so-far artifact snapshot: printed after every pair and re-printed
      * by the shutdown hook on a kill. The LAST parsable stdout line wins
      * downstream, so intermediate snapshots never corrupt the final one.
      */
    def emit(kLo: Double, kHi: Double, bwLo: Double, bwHi: Double,
             pairsCompleted: Int, isFinal: Boolean): Unit = {
      val (bestLo, loAllAborted) = bestOf(loCpus)
      val (bestHi, hiAllAborted) = bestOf(hiCpus)
      val levelsValid = !loAllAborted && !hiAllAborted
      val eff =
        if (levelsValid) bestHi.docsPerSec / (coreRatio * bestLo.docsPerSec)
        else 0.0
      val kernelEff = kHi / (coreRatio * kLo)
      val total = queryTimes.map(_._2).sum + bestHi.sec
      val qs = queryTimes.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val rawRuns = runs.map(_.json).mkString("[", ",", "]")
      val controls =
        f"""{"kernel":{"docs_per_sec_lo":$kLo%.0f,"docs_per_sec_hi":$kHi%.0f,"efficiency":$kernelEff%.3f},"membw_gbps":{"lo":$bwLo%.1f,"hi":$bwHi%.1f},"pipeline_cpu_core_sec":{"lo":${bestLo.cpuCoreSec}%.1f,"hi":${bestHi.cpuCoreSec}%.1f},"bytes_per_doc":{"read":${bestHi.readMb * 1e6 / nDocs}%.0f,"shuffle":${bestHi.shuffleMb * 1e6 / nDocs}%.0f},"eff_vs_kernel":${eff / kernelEff}%.3f}"""
      val line =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","gen_sec":$genSec%.1f,"pairs_completed":$pairsCompleted,"budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.0f,"dedup":{"docs":$nDocs,"cpus":${bestHi.cpus},"sec":${bestHi.sec}%.3f,"docs_per_sec":${bestHi.docsPerSec}%.1f,"all_aborted":$hiAllAborted},"scaling":{"cpus_lo":$loCpus,"docs_per_sec_lo":${bestLo.docsPerSec}%.1f,"cpus_hi":$hiCpus,"docs_per_sec_hi":${bestHi.docsPerSec}%.1f,"core_ratio":$coreRatio%.1f,"efficiency":$eff%.3f,"all_aborted_lo":$loAllAborted,"all_aborted_hi":$hiAllAborted,"controls":$controls,"runs":$rawRuns}}"""
      lastArtifact = line
      println(line); System.out.flush()
      if (isFinal) finalEmitted = true
    }

    // 0-pair snapshot: if the driver kills us inside the very first timed
    // run, the artifact still parses (query times + window-1 controls,
    // pairs_completed=0 and all_aborted flags marking the gate unevaluated).
    emit(math.max(kLo1, 1.0), math.max(kHi1, 1.0), bwLo1, bwHi1,
      pairsCompleted = 0, isFinal = false)

    // ---- interleaved pairs, best-of per level, budget-gated ----
    // Pair 1 ALWAYS runs (a 0-pair artifact leaves the scaling gate
    // unevaluated — the round-4 failure mode); if the budget is already
    // tight its caps shrink to fit what remains, and the watchdog turns a
    // poisoned window into an honest all_aborted artifact instead of a
    // driver kill. Pairs 2..N run only while a full-cap pair + the window-2
    // controls still fit the remaining budget.
    var pairsCompleted = 0
    var i = 1
    var budgetStop = false
    while (i <= pairs && !budgetStop) {
      val fits = remainingSec > capLo + capHi + controlReserve
      if (i == 1 || fits) {
        val (cl, ch) =
          if (fits) (capLo, capHi)
          else {
            val avail = math.max(240.0, remainingSec - controlReserve)
            (math.max(120L, (avail * capLo / (capLo + capHi)).toLong),
             math.max(120L, (avail * capHi / (capLo + capHi)).toLong))
          }
        if (!fits) System.err.println(
          f"[bench] budget: pair 1 forced with shrunk caps lo=${cl}s hi=${ch}s (remaining $remainingSec%.0f s)")
        // hi FIRST within each pair: whatever first-run-of-a-session
        // penalty survives the warmup lands on a run that two more hi
        // samples follow (best-of absorbs it); the lo level measured
        // insensitive to run order in every round-5 session.
        runs += dedupThroughput(hiCpus, shufParts, corpusPath, nDocs, ch)
        runs += dedupThroughput(loCpus, shufParts, corpusPath, nDocs, cl)
        pairsCompleted += 1
        emit(math.max(kLo1, 1.0), math.max(kHi1, 1.0), bwLo1, bwHi1,
          pairsCompleted, isFinal = false)
      } else {
        System.err.println(
          f"[bench] budget: stopping after $pairsCompleted pairs (remaining $remainingSec%.0f s < ${capLo + capHi + controlReserve}%.0f s)")
        budgetStop = true
      }
      i += 1
    }

    // ---- salvage retries: the scaling gate needs >=1 COMPLETED run per
    // level, and a poisoned host window can abort an entire pair (observed
    // live: pair 1 lo+hi both hit their caps under 2,000+ s of phantom host
    // sys, leaving 722 s of budget unused and the gate unevaluated). If a
    // level is still all-aborted and the remaining budget fits a
    // single-level retry, spend it there. This conditions only on abort
    // status — a host event, not an engine-performance draw — so the
    // best-of-completed estimator is unchanged; every salvage run is
    // emitted in `runs` like any other.
    def levelMissing(c: Int): Boolean = {
      val rs = runs.filter(_.cpus == c); rs.isEmpty || rs.forall(_.aborted)
    }
    var salvage = 0
    while (salvage < 4 && (levelMissing(loCpus) || levelMissing(hiCpus)) &&
           remainingSec > (if (levelMissing(hiCpus)) capHi else capLo) + controlReserve) {
      // hi first when missing: its cap is smaller, so it fits tighter tails
      val (cpus, cap) = if (levelMissing(hiCpus)) (hiCpus, capHi) else (loCpus, capLo)
      System.err.println(f"[bench] salvage: retrying cpus=$cpus cap=${cap}s (remaining $remainingSec%.0f s)")
      runs += dedupThroughput(cpus, shufParts, corpusPath, nDocs, cap)
      emit(math.max(kLo1, 1.0), math.max(kHi1, 1.0), bwLo1, bwHi1,
        pairsCompleted, isFinal = false)
      salvage += 1
    }

    // ---- controls, window 2 (after the timed runs; skipped when the
    // budget is blown — window 1 then stands alone) ----
    val (kLo, kHi, bwLo, bwHi) =
      if (remainingSec > 60) {
        val kLo2 = kernelDocsPerSec(loCpus, kernelSample)
        val kHi2 = kernelDocsPerSec(hiCpus, kernelSample)
        val bwLo2 = memBandwidthGBps(loCpus)
        val bwHi2 = memBandwidthGBps(hiCpus)
        (math.max(kLo1, kLo2), math.max(kHi1, kHi2),
         math.max(bwLo1, bwLo2), math.max(bwHi1, bwHi2))
      } else {
        System.err.println(f"[bench] budget: skipping window-2 controls (remaining $remainingSec%.0f s)")
        (kLo1, kHi1, bwLo1, bwHi1)
      }

    // The corpus is deliberately LEFT in tmpfs: it is keyed by (nDocs,
    // seed) and a driver retry of this same bench reuses it instead of
    // paying generation again. Spark's own spark-* shuffle scratch dirs
    // are removed on stop().
    emit(kLo, kHi, bwLo, bwHi, pairsCompleted, isFinal = true)
  }
}
