package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{DedupConfig, DedupPipeline, Multimodal}
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

  private def daysOf(pages: DataFrame): Seq[String] =
    pages.select(Fns.dayKey(col("warc_ts"))).distinct().collect().map(_.getString(0)).sorted.toSeq

  private def onDay(pages: DataFrame, day: String): DataFrame =
    pages.filter(Fns.dayKey(col("warc_ts")) === day)

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** A 3-day PagesGen crawl plus rows that a day-blind batch gets wrong: a
    * url seen on two days, a text seen on two days, a near-duplicate pair
    * split across two days, and a fourth day that forms no cluster.
    */
  private def trapPages(): DataFrame = {
    import spark.implicits._
    val gen = PagesGen.generate(spark, 600, nDomains = 30, nDays = 3, seed = 21L)
      .select("url", "warc_ts", "text")
    val days = daysOf(gen)
    def clustered(day: String) = DedupPipeline.run(spark, onDay(gen, day))
      .select("url").orderBy("url").first().getString(0)
    def textOf(url: String) = gen.filter(col("url") === url).first().getAs[String]("text")
    val (x, y) = (clustered(days(0)), clustered(days(1)))
    val lonely = gen.join(DedupPipeline.run(spark, onDay(gen, days(2))), Seq("url"), "left_anti")
      .filter(Fns.dayKey(col("warc_ts")) === days(2)).orderBy("url").first().getAs[String]("text")
    val day3 = java.time.LocalDate.parse(days(2)).plusDays(1).toString
    val planted = Seq(
      (x, days(1), textOf(y) + " trap"),           // x's url a day later, near y
      ("https://trap.example/text-twin", days(2), textOf(x)), // x's text on another day
      ("https://trap.example/near-a", days(1), lonely + " trap"), // near-dup of a day-2 doc
      ("https://trap.example/alone-1", day3, "one lonely page about harbour cranes at dawn"),
      ("https://trap.example/alone-2", day3, "quite another story: sourdough starters and rye"))
      .toDF("url", "day", "text")
      .select(col("url"), to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("warc_ts"), col("text"))
    gen.union(planted)
  }

  test("batched drain: each day's output and metrics equal the per-day path's") {
    val pages = trapPages().cache()
    try {
      val days = daysOf(pages)
      assert(days.size == 4)
      // the traps bite: one day-blind call over every day gives other rows
      assert(rowsOf(DedupPipeline.run(spark, pages)) !=
        days.flatMap(d => rowsOf(DedupPipeline.run(spark, onDay(pages, d)))).sorted)

      val batched = freshRoot()
      val t0 = System.currentTimeMillis()
      assert(Checkpoint.runIncremental(spark, pages, batched) == days)
      val wallMs = System.currentTimeMillis() - t0
      days.foreach { d =>
        assert(rowsOf(spark.read.parquet(s"$batched/output/day=$d")) ==
          rowsOf(DedupPipeline.run(spark, onDay(pages, d))), s"day $d")
      }
      // the no-cluster day still has a readable, empty output partition
      assert(spark.read.parquet(s"$batched/output/day=${days(3)}").count() == 0)

      // the same counts and fingerprints as one pipeline call per day
      val perDay = freshRoot()
      assert(Checkpoint.runIncremental(spark, pages, perDay, maxParallelDays = 2) == days)
      def counts(root: String) = spark.read.parquet(s"$root/metrics")
        .select("day", "nDocsIn", "inputFingerprint", "nClustered", "nClusters",
          "nDuplicatesRemoved", "status")
      assert(rowsOf(counts(batched)) == rowsOf(counts(perDay)))

      // one batch: its time is split over its days by input share
      val m = spark.read.parquet(s"$batched/metrics").orderBy("day").collect()
      val elapsed = m.map(_.getAs[Long]("elapsedMs")).toSeq
      assert(m.map(_.getAs[Long]("startedAtMs")).distinct.length == 1)
      assert(elapsed.sum <= wallMs)
      assert(elapsed == Checkpoint.splitByShare(elapsed.sum, m.map(_.getAs[Long]("nDocsIn")).toSeq))
      assert(Checkpoint.usageRollup(spark, batched).first().getAs[Long]("elapsed_ms") == elapsed.sum)
    } finally pages.unpersist(): Unit
  }

  /** The days of each pipeline call `body` makes, one entry per call, in
    * start order: every job of a call carries them in
    * [[Checkpoint.CallDaysProperty]]. */
  private def callsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.flatMap(q => Option(q.getProperty(Checkpoint.CallDaysProperty)))
          .foreach(ds => if (!calls.contains(ds)) calls.add(ds))
        if (p.exists(_.getProperty("spark.job.description") == "calls: marker")) marker.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers events in order: once the marker job's start
      // arrives, every job of `body` has been recorded
      sc.setJobDescription("calls: marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    calls.toArray(Array.empty[String]).toSeq
  }

  test("a batched call that throws reruns its days one by one; only the bad day is a gap") {
    val pages = PagesGen.generate(spark, 400, nDomains = 20, nDays = 3, seed = 23L)
      .select("url", "warc_ts", "text")
    val days = daysOf(pages)
    val bad = days(1)
    // the day-count aggregate reads only url and warc_ts: only the pipeline throws
    val poisoned = pages.withColumn("text",
      when(Fns.dayKey(col("warc_ts")) === bad, raise_error(lit("poisoned text")))
        .otherwise(col("text")))
    val h = Checkpoint.configHash(DedupConfig())
    val root = freshRoot()
    // the first two days: one batched call, which throws, then one call each
    var done: Seq[String] = Nil
    val first = callsOf {
      done = Checkpoint.runIncremental(spark, onDay(poisoned, days(0)).union(onDay(poisoned, bad)), root)
    }
    assert(done == Seq(days(0)))
    assert(first == Seq(s"${days(0)},$bad", days(0), bad), first)
    assert(Checkpoint.completedDays(spark, root, h) == Set(days(0)))
    assert(Checkpoint.openGapDays(spark, root, h) == Seq(bad))
    // a resume runs the open gap day in a call of its own, before and
    // apart from the fresh day's batch: failing again costs one day's call
    val resume = callsOf { done = Checkpoint.runIncremental(spark, poisoned, root) }
    assert(done == Seq(days(2)))
    assert(resume == Seq(bad, days(2)), resume)
    assert(Checkpoint.openGapDays(spark, root, h) == Seq(bad))
    // once the day is mended, a resume retries only it, and the root ends
    // as a clean drain's
    assert(Checkpoint.runIncremental(spark, pages, root) == Seq(bad))
    val clean = freshRoot()
    assert(Checkpoint.runIncremental(spark, pages, clean) == days)
    assert(rowsOf(spark.read.parquet(s"$root/output")) == rowsOf(spark.read.parquet(s"$clean/output")))
  }

  test("a drain keeps its lock and day leases fresh while a call outlasts their TTL") {
    val pages = PagesGen.generate(spark, 300, nDomains = 15, nDays = 2, seed = 29L)
      .select("url", "warc_ts", "text")
    val days = daysOf(pages)
    val h = Checkpoint.configHash(DedupConfig())
    val root = freshRoot()
    val ttl = 1000L
    // the first worker's call waits on the gate inside its pipeline; the
    // day-count aggregate before it reads no text, so it runs through
    val gate = new java.util.concurrent.CountDownLatch(1)
    CallGate.latch = gate
    CallGate.deadlineMs = System.currentTimeMillis() + 60000L
    val held = pages.withColumn("text", CallGate.pass(col("text")))
    var first: Either[Throwable, Seq[String]] = Right(Nil)
    val worker = new Thread(() => first =
      try Right(Checkpoint.runIncremental(spark, held, root, lockTtlMs = ttl, dayLeaseTtlMs = ttl))
      catch { case e: Throwable => Left(e) })
    worker.start()
    try {
      val leases = days.map(d => java.nio.file.Paths.get(root, "locks", "days", h, s"$d.lease"))
      val deadline = System.currentTimeMillis() + 60000L
      while (!leases.forall(java.nio.file.Files.exists(_)) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(leases.forall(java.nio.file.Files.exists(_)), "the first worker took no leases")
      // three TTLs into the call, only the keeper's refreshes keep the lock
      // and the leases fresh: a second worker can take neither. (Its checks
      // are the lock and lease takes a drain makes; its own Spark jobs
      // would queue behind the gated tasks.)
      Thread.sleep(3 * ttl)
      assert(worker.isAlive)
      val e = intercept[IllegalStateException] {
        Checkpoint.acquireLock(spark, root, h, staleTtlMs = ttl)
      }
      assert(e.getMessage.contains("already active"), e.getMessage)
      days.foreach(d =>
        assert(!Checkpoint.tryAcquireDayLease(root, h, d, "second-worker", staleTtlMs = ttl), d))
    } finally {
      gate.countDown()
      worker.join(120000L)
    }
    assert(first == Right(days))
    // each day processed and committed exactly once
    def daysIn(table: String) =
      spark.read.parquet(s"$root/$table").select("day").collect().map(_.getString(0)).sorted.toSeq
    assert(daysIn("checkpoints") == days)
    assert(daysIn("metrics") == days)
  }

  test("a run that loses its lock mid-call has its jobs cancelled and commits nothing") {
    val pages = PagesGen.generate(spark, 300, nDomains = 15, nDays = 2, seed = 31L)
      .select("url", "warc_ts", "text")
    val h = Checkpoint.configHash(DedupConfig())
    val root = freshRoot()
    val ttl = 1000L
    val gate = new java.util.concurrent.CountDownLatch(1)
    CallGate.latch = gate
    CallGate.deadlineMs = System.currentTimeMillis() + 60000L
    CallGate.arrived.set(0)
    val held = pages.withColumn("text", CallGate.pass(col("text")))
    var first: Either[Throwable, Seq[String]] = Right(Nil)
    val worker = new Thread(() => first =
      try Right(Checkpoint.runIncremental(spark, held, root, lockTtlMs = ttl))
      catch { case e: Throwable => Left(e) })
    var thief: Thread = null
    worker.start()
    try {
      val deadline = System.currentTimeMillis() + 60000L
      while (CallGate.arrived.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(CallGate.arrived.get() > 0, "the call never reached the gate")
      // another run takes the lock over, as if this run's had gone stale;
      // its bookkeeping appends queue behind the gated tasks
      thief = new Thread(() =>
        try Checkpoint.acquireLock(spark, root, h, staleTtlMs = ttl,
          nowMs = System.currentTimeMillis() + 10 * ttl): Unit
        catch { case _: Throwable => })
      thief.start()
      // the keeper sees the new owner, cancels the call's jobs, and the
      // run stops while its tasks are still held on the gate
      worker.join(30000L)
      assert(!worker.isAlive, "the dispossessed run kept working")
    } finally {
      gate.countDown()
      worker.join(120000L)
      if (thief != null) thief.join(120000L)
    }
    first match {
      case Left(e: IllegalStateException) => assert(e.getMessage.contains("dispossessed"), e.getMessage)
      case other => fail(s"expected the run to stop as dispossessed, got $other")
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "checkpoints")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "output")))
  }

  test("drain batches hold the doc bound, keep drain order, and isolate oversized days") {
    val days = Seq("e" -> 5L, "a" -> 3L, "b" -> 4L, "big" -> 20L, "c" -> 1L, "d" -> 9L)
    val bs = Checkpoint.batches(days, 10L)
    assert(bs == Seq(Seq("e", "a"), Seq("b"), Seq("big"), Seq("c", "d")))
    assert(bs.flatten == days.map(_._1))
    bs.filter(_.size > 1).foreach(b => assert(b.map(days.toMap).sum <= 10L, b))
    assert(Checkpoint.batches(Nil, 10L).isEmpty)
    assert(Checkpoint.batches(Seq("x" -> 10L), 10L) == Seq(Seq("x")))
    assert(Checkpoint.splitByShare(10L, Seq(1L, 1L, 1L)) == Seq(3L, 3L, 4L))
    assert(Checkpoint.splitByShare(7L, Seq(5L)) == Seq(7L))
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

/** A gate the lease-keeping tests hold a drain's call on: [[pass]] returns
  * its input once `latch` is open or `deadlineMs` has passed, so a broken
  * drain fails the test instead of hanging it. */
object CallGate {
  @volatile var latch = new java.util.concurrent.CountDownLatch(0)
  @volatile var deadlineMs = 0L
  /** Rows that have reached the gate. */
  val arrived = new java.util.concurrent.atomic.AtomicInteger()
  val pass = udf { t: String =>
    arrived.incrementAndGet()
    latch.await(math.max(0L, deadlineMs - System.currentTimeMillis()),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    t
  }
}
