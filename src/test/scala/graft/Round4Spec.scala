package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{BlockDedup, DedupConfig, SkewOps}
import graft.runtime.Checkpoint
import graft.sources.PagesGen

/** Round-4 regression tests: intra-run day parallelism, torn-create
  * lock/lease recovery (atomic create-with-content + mtime-TTL reap),
  * heartbeat dispossession, globalDenseIndex cache release, fuzzyMerge
  * idx-contract guard.
  */
class Round4Spec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "r4").toString

  // ---------------------------------------------- day-parallel incremental

  /** Per day, the interval from the start of the first job of the call
    * that ran it to the end of that call's last job:
    * `Checkpoint.runIncremental` labels a call's first job and its last
    * (the checkpoint rows) `checkpoint: <day>[,<day>...]`, and the pipeline
    * jobs in between run inside that span.
    */
  private def daySpans(body: => Unit): Map[String, (Long, Long)] = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val desc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => desc.put(e.jobId, d))
        starts.put(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ends.put(e.jobId, e.time)
        if (desc.get(e.jobId) == "day-spans: marker") marker.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers events in order: once the marker job's end
      // arrives, every job of `body` has been recorded
      sc.setJobDescription("day-spans: marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val call = "checkpoint: (.+)".r
    desc.asScala.toSeq.collect { case (id, call(ds)) => ds -> (starts.get(id), ends.get(id)) }
      .groupBy(_._1).toSeq.flatMap { case (ds, js) =>
        val span = (js.map(_._2._1).min, js.map(_._2._2).max)
        ds.split(',').map(_ -> span)
      }.toMap
  }

  private def overlapping(spans: Map[String, (Long, Long)]): Seq[(String, String)] =
    spans.toSeq.combinations(2).collect {
      case Seq((a, (s1, e1)), (b, (s2, e2))) if s1 < e2 && s2 < e1 => (a, b)
    }.toSeq

  test("day-parallel runIncremental: identical outputs, days' jobs overlap") {
    val pages = PagesGen.generate(spark, 600, nDomains = 20, nDays = 6, seed = 7L)
    val rootSeq = freshRoot()
    val rootPar = freshRoot()
    val h = Checkpoint.configHash(DedupConfig())

    var a, b: Seq[String] = Nil
    val seqSpans = daySpans { a = Checkpoint.runIncremental(spark, pages, rootSeq) }
    val parSpans = daySpans {
      b = Checkpoint.runIncremental(spark, pages, rootPar, maxParallelDays = 4)
    }

    assert(a.size == 6 && a.toSet == b.toSet)
    assert(Checkpoint.completedDays(spark, rootSeq, h) ==
      Checkpoint.completedDays(spark, rootPar, h))
    a.foreach { d =>
      val x = spark.read.parquet(s"$rootSeq/output/day=$d")
        .orderBy("url").collect().map(_.toString).toSeq
      val y = spark.read.parquet(s"$rootPar/output/day=$d")
        .orderBy("url").collect().map(_.toString).toSeq
      assert(x == y, s"day $d outputs differ between sequential and parallel")
    }
    // every day is seen in both drains; the sequential one runs all six in
    // one pipeline call, the parallel one a call per day, two in flight
    assert(seqSpans.keySet == a.toSet && parSpans.keySet == a.toSet)
    assert(seqSpans.values.toSet.size == 1, s"sequential drain took several calls: $seqSpans")
    assert(parSpans.values.toSet.size == a.size, s"parallel drain batched days: $parSpans")
    assert(overlapping(parSpans).nonEmpty, s"no two days' jobs overlap: $parSpans")
  }

  test("two concurrent drivers, each day-parallel, still drain disjoint days") {
    val pages = PagesGen.generate(spark, 700, nDomains = 20, nDays = 6, seed = 8L)
    val root = freshRoot()
    val allDays = pages.select(graft.functions.Fns.dayKey(col("warc_ts")).as("d"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(allDays.size == 6)

    val results = new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fs = (0 until 2).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          results.put(w, Checkpoint.runIncremental(spark, pages, root,
            dayLeaseTtlMs = 600000L, maxParallelDays = 2)): Unit
        }
      })
    }
    gate.countDown()
    fs.foreach(_.get())
    pool.shutdown()
    val a = results.get(0).toSet
    val b = results.get(1).toSet
    assert((a & b).isEmpty, s"workers double-processed: ${a & b}")
    assert((a | b) == allDays, s"days missed: ${allDays -- (a | b)}")
  }

  // ------------------------------------------------- torn-create recovery

  test("empty (torn-create) day lease past TTL is reaped; fresh one blocks") {
    val root = freshRoot()
    val h = "cfgtorn01"
    val now = System.currentTimeMillis()
    def plantEmpty(day: String, mtimeMs: Long): Unit = {
      val p = java.nio.file.Paths.get(s"$root/locks/days/$h/$day.lease")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.createFile(p)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs)): Unit
    }
    // crashed worker: empty lease, mtime 2h ago, TTL 1h -> reapable
    plantEmpty("2026-01-01", now - 7200000L)
    assert(Checkpoint.tryAcquireDayLease(root, h, "2026-01-01", "w1",
      staleTtlMs = 3600000L))
    // in-flight worker: empty lease, fresh mtime -> must still block
    plantEmpty("2026-01-02", now)
    assert(!Checkpoint.tryAcquireDayLease(root, h, "2026-01-02", "w1",
      staleTtlMs = 3600000L))
  }

  test("empty (torn-create) global lock past TTL is reaped; fresh one refuses") {
    val root = freshRoot()
    val h = "cfgtorn02"
    val p = java.nio.file.Paths.get(s"$root/locks/$h.lock")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.createFile(p) // no content: crash between create+write
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    val run = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 3600000L)
    Checkpoint.releaseLock(spark, root, h, run)

    // fresh unparseable lock: refused, not silently stolen
    java.nio.file.Files.createFile(p)
    intercept[IllegalStateException] {
      Checkpoint.acquireLock(spark, root, h, staleTtlMs = 3600000L)
    }
  }

  test("lease file is never observable empty (created with content atomically)") {
    val root = freshRoot()
    val h = "cfgatomic"
    assert(Checkpoint.tryAcquireDayLease(root, h, "2026-02-01", "w9",
      staleTtlMs = 3600000L))
    val p = java.nio.file.Paths.get(s"$root/locks/days/$h/2026-02-01.lease")
    val content = java.nio.file.Files.readString(p)
    assert(content.startsWith("w9|"), s"lease content torn: '$content'")
  }

  // -------------------------------------------------------- dispossession

  test("heartbeat throws once the lock names another run (dispossessed owner stops)") {
    val root = freshRoot()
    val h = "cfgheart"
    val t0 = 1000000L
    val run1 = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000L, nowMs = t0)
    // run1 goes stale; run2 reaps and takes over
    val run2 = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000L,
      nowMs = t0 + 120000L)
    val ex = intercept[IllegalStateException] {
      Checkpoint.heartbeat(root, h, run1, nowMs = t0 + 121000L)
    }
    assert(ex.getMessage.contains("dispossessed"))
    // the live owner's heartbeat still works
    Checkpoint.heartbeat(root, h, run2, nowMs = t0 + 121000L)
    Checkpoint.releaseLock(spark, root, h, run2)
  }

  // ------------------------------------------------------- cache hygiene

  test("globalDenseIndex releases its internal range-partitioned cache") {
    val df = spark.range(0, 2000).select((col("id") * 7919 % 2000).as("k"))
      .repartition(8)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SkewOps.globalDenseIndex(df, col("k"), "dense")
    assert(out.count() == 2000)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the localCheckpoint snapshot of the RESULT may remain; the
    // internal withPid cache must be gone (round-3 leak finding)
    assert(leaked.size <= 1,
      s"globalDenseIndex leaked ${leaked.size} cached RDDs")
  }

  // --------------------------------------------- candidate-stage plan shape

  test("candidate stage reuses the one bucket exchange: only the pair " +
    "repartition shuffles downstream of the checkpoint") {
    import spark.implicits._
    val pages = PagesGen.generate(spark, 400, nDomains = 10, seed = 11L)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cfg = DedupConfig()
      val sigs = graft.operators.DedupPipeline.signatures(pages, cfg)
      val cand = graft.operators.DedupPipeline.candidates(sigs, cfg)
      // The bucket rows are hash-partitioned by (band, bucket) once and
      // pinned with a localCheckpoint; the df-cap groupBy, its anti-join
      // probe side, and BOTH sides of the LSH self-join must reuse that
      // layout. The only exchange allowed after the checkpoint is the
      // explicit repartition(uid_a) feeding the pair dedup (whose output
      // partitioning the verify join then reuses).
      val exchanges = cand.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val nonUid = exchanges.filterNot(
        _.outputPartitioning.toString.contains("uid_a"))
      assert(nonUid.isEmpty,
        s"unexpected exchange(s) downstream of the bucket checkpoint:\n" +
          nonUid.map(e => e.outputPartitioning.toString).mkString("\n"))
      assert(exchanges.size == 1,
        s"expected exactly the repartition(uid_a) exchange, got " +
          s"${exchanges.size}:\n${cand.queryExecution.executedPlan}")
      // and the semantics are unchanged by the restructure
      assert(cand.select("uid_a", "uid_b").distinct().count() == cand.count(),
        "cross-band pair dedup must be complete")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  // ------------------------------------------------------ contract guards

  test("fuzzyMerge rejects a non-integral idx loudly") {
    import spark.implicits._
    val blocks = Seq(("x1", "title a", Seq("a1")), ("x2", "title b", Seq("a2")))
      .toDF("idx", "title", "article_ids")
    val ex = intercept[IllegalArgumentException] {
      BlockDedup.fuzzyMerge(spark, blocks)
    }
    assert(ex.getMessage.contains("integral idx"))
  }
}
