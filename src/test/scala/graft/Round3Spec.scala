package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.MediaCodecs
import graft.operators.{Ann, ConnectedComponents, SkewOps}
import graft.runtime.Checkpoint
import graft.sources.PagesGen

/** Round-3 regression tests: ADVICE fixes (retry backoff actually delays,
  * atomic stale-lock reap, malformed-media robustness, null-safe CC
  * convergence) + VERDICT scale fixes (Ann bucket shuffle carries no
  * vectors, BlockDedup renumber has no unpartitioned window).
  */
class Round3Spec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "r3").toString

  // ------------------------------------------------------------ Checkpoint

  test("retry backoff delays the failed day, not merely reorders it") {
    val pages = PagesGen.generate(spark, 400, nDomains = 20, nDays = 3, seed = 5L)
    val root = freshRoot()
    val day = pages.select(graft.functions.Fns.dayKey(col("warc_ts")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0))
    assert(day.length == 3)

    // run 1: day(0) fails softly with a 5 min backoff; others complete
    val r1 = Checkpoint.runIncremental(spark, pages, root,
      retryBackoffMs = 300000L, failDays = Set(day(0)))
    assert(r1.toSet == Set(day(1), day(2)))

    // run 2 (immediately): the backed-off day must be SKIPPED entirely —
    // pre-fix it reappeared in `fresh` and was reprocessed at once
    val cfgHash = Checkpoint.configHash(graft.operators.DedupConfig())
    assert(Checkpoint.blockedGapDays(spark, root, cfgHash) == Seq(day(0)))
    val r2 = Checkpoint.runIncremental(spark, pages, root)
    assert(r2.isEmpty, s"backed-off day processed early: $r2")

    // once the backoff elapses (simulated: a later gap row whose
    // retry-after is already in the past wins) the gap day drains first
    Checkpoint.recordGap(spark, root, day(0), cfgHash, "retry now",
      System.currentTimeMillis() - 1000L)
    val r3 = Checkpoint.runIncremental(spark, pages, root)
    assert(r3 == Seq(day(0)))
  }

  test("stale-lock reap is atomic: N concurrent acquirers -> exactly 1 winner") {
    // plant a stale lease file in `dir`, race 8 takers on it; the dir must
    // end holding only that file (no aside/new debris)
    def race(dir: java.nio.file.Path, name: String, stale: String)(take: Int => Boolean): Int = {
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve(name), stale)
      val n = 8
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val futures = (0 until n).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            gate.await()
            if (take(i)) wins.incrementAndGet(): Unit
          }
        })
      }
      gate.countDown()
      futures.foreach(_.get())
      pool.shutdown()
      val left = java.nio.file.Files.list(dir).iterator()
      var names = List.empty[String]
      while (left.hasNext) names ::= left.next().getFileName.toString
      assert(names == List(name), s"debris left: $names")
      wins.get()
    }

    // the global lock: heartbeat far in the past
    val root = freshRoot()
    val cfgHash = "deadbeef01"
    val lockWins = race(java.nio.file.Paths.get(s"$root/locks"), s"$cfgHash.lock",
      "stale-run|1000|1000") { _ =>
      try { Checkpoint.acquireLock(spark, root, cfgHash, staleTtlMs = 60000L); true }
      catch { case _: IllegalStateException => false }
    }
    assert(lockWins == 1,
      s"single-writer invariant broken: $lockWins concurrent acquisitions")
    // the stale run was failed exactly once in the runs table
    val staleRows = Checkpoint.runs(spark, root)
      .filter(col("runId") === "stale-run" && col("status") === "STALE_FAILED").count()
    assert(staleRows == 1)

    // a day lease in its two-field form: acquisition time far in the past
    val leaseWins = race(java.nio.file.Paths.get(s"$root/locks/days/$cfgHash"),
      "2026-01-01.lease", "stale-worker|1000") { i =>
      Checkpoint.tryAcquireDayLease(root, cfgHash, "2026-01-01", s"w$i", staleTtlMs = 60000L)
    }
    assert(leaseWins == 1, s"day double-owned: $leaseWins concurrent leases")
  }

  test("one taker reaps a stale lease: a live reap claim stops the rest, a dead one goes stale") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot()
    val dir = Paths.get(s"$root/locks/days/cfg")
    Files.createDirectories(dir)
    val stale = "dead-worker|1000|1000"
    Files.writeString(dir.resolve("2026-01-01.lease"), stale)
    val claim = dir.resolve(".2026-01-01.lease.reap." +
      java.util.UUID.nameUUIDFromBytes(stale.getBytes("UTF-8")))
    def take(w: String) =
      Checkpoint.tryAcquireDayLease(root, "cfg", "2026-01-01", w, staleTtlMs = 60000L)
    // another taker is reaping this stale lease right now: back off, touch nothing
    Files.writeString(claim, s"live-reaper|${System.currentTimeMillis()}|${System.currentTimeMillis()}")
    assert(!take("w1"))
    assert(Files.readString(dir.resolve("2026-01-01.lease")) == stale)
    // that taker died holding its claim: the claim goes stale and is reaped too
    Files.writeString(claim, "dead-reaper|1000|1000")
    assert(take("w2"))
    assert(Files.readString(dir.resolve("2026-01-01.lease")).startsWith("w2|"))
    val left = Files.list(dir).toArray.map(_.toString.split('/').last).toSeq
    assert(left == Seq("2026-01-01.lease"), s"debris left: $left")
  }

  test("two concurrent day-lease workers drain disjoint days; union == plan") {
    import scala.jdk.CollectionConverters._
    val pages = PagesGen.generate(spark, 700, nDomains = 20, nDays = 6, seed = 6L)
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
            dayLeaseTtlMs = 600000L)): Unit
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
    // every day's output exists and a fresh run has nothing left to do
    assert(Checkpoint.completedDays(spark, root,
      Checkpoint.configHash(graft.operators.DedupConfig())) == allDays)
    assert(Checkpoint.runIncremental(spark, pages, root, dayLeaseTtlMs = 600000L).isEmpty)
  }

  // ------------------------------------------------------------ MediaCodecs

  test("decodeWav rejects negative chunk lengths instead of spinning") {
    // RIFF/WAVE with a chunk whose u32 length reads as a negative Int
    val b = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes); b.putInt(56); b.put("WAVE".getBytes)
    b.put("junk".getBytes); b.putInt(0xFFFFFFF8) // len = -8: o += 8 + len + 0 would not advance
    val done = new java.util.concurrent.CompletableFuture[Option[MediaCodecs.Wav]]()
    val t = new Thread(() => done.complete(MediaCodecs.decodeWav(b.array())))
    t.setDaemon(true); t.start()
    val r = done.get(10, java.util.concurrent.TimeUnit.SECONDS) // pre-fix: hangs
    assert(r.isEmpty)
  }

  test("decodeBmp rejects out-of-range data offsets") {
    val bmp = MediaCodecs.encodeBmp(4, 4, new Array[Byte](48))
    // corrupt dataOffset to a u32 that reads negative / inside the header
    def withOffset(off: Int): Array[Byte] = {
      val c = bmp.clone()
      c(10) = off.toByte; c(11) = (off >> 8).toByte
      c(12) = (off >> 16).toByte; c(13) = (off >> 24).toByte
      c
    }
    assert(MediaCodecs.decodeBmp(withOffset(0x80000000)).isEmpty)
    assert(MediaCodecs.decodeBmp(withOffset(10)).isEmpty)
    assert(MediaCodecs.decodeBmp(bmp).isDefined) // sanity: untouched decodes
  }

  // ------------------------------------------------------------ CC

  test("CC converges fully when vertices misses edge endpoints (null-safe check)") {
    import spark.implicits._
    // chain 1-2-3-4-5; vertices contains ONLY id 1. Labels reach id k at
    // round k-1; pre-fix, the null prev_component of each newly-reached id
    // was dropped by the non-null-safe filter and CC declared convergence
    // after round 2 with ids 4,5 unlabeled/mislabeled.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val vertices = Seq(1L).toDF("id")
    val out = ConnectedComponents.run(spark, vertices, edges).collect()
    assert(out.length == 5, s"expected all 5 chain ids labeled, got ${out.length}")
    assert(out.forall(_.getLong(1) == 1L),
      s"chain must collapse to component 1: ${out.mkString(",")}")
  }

  // ------------------------------------------------------------ Ann shuffle

  test("Ann bucket-join exchanges carry no embedding (ids only ride the explosion)") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cand = Ann.selfCandidateIds(emb, bitsPerTable = 12, nTables = 8,
        seed = 42L, maxBucketSize = 2000, idCol = "vec_id", vecCol = "embedding")
      val exchanges = cand.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected a shuffle under the bucket self-join")
      exchanges.foreach { e =>
        val arrays = e.child.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"bucket-join exchange shuffles array column(s) ${arrays.map(_.name)}")
      }
      val q = Ann.lshCandidateIds(emb, emb.filter(col("vec_id") < 5),
        bitsPerTable = 12, nTables = 8, seed = 42L,
        idCol = "vec_id", vecCol = "embedding")
      q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        val arrays = e.child.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"query-ANN exchange shuffles array column(s) ${arrays.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("Ann selfTopK results unchanged by the shuffle-slimming rewrite") {
    // planted twins (same check shape as Round2Spec): twin vectors must
    // find each other as rank-1 neighbors
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val twins = base.take(25).map { case (i, v) =>
      (i + 1000L, v.map(x => (x + 0.001f * rnd.nextGaussian().toFloat)))
    }
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    val top = Ann.selfTopK(emb, k = 1, bitsPerTable = 8, nTables = 8)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 25).foreach { i =>
      assert(top.get(i.toLong).contains(i + 1000L), s"twin of $i not rank-1")
      assert(top.get(i + 1000L).contains(i.toLong), s"twin of ${i + 1000} not rank-1")
    }
  }

  // ------------------------------------------------------------ sparse vec

  test("sparse embedding + cosine are bitwise-equal to the dense reference kernel") {
    import graft.core.HashingEmbedder
    val rnd = new scala.util.Random(11)
    val words = Array("alpha", "beta", "gamma", "δέλτα", "ёжик", "čćžš", "x")
    val texts = Array("", " ", "ab", "aaa", "здравствуйте мир") ++
      (0 until 200).map(_ =>
        (0 until rnd.nextInt(200)).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    // element-level parity
    texts.foreach { t =>
      val dense = HashingEmbedder.embed(t)
      val sv = HashingEmbedder.embedSparse(t)
      val rebuilt = HashingEmbedder.sparseToDense(sv.packed, sv.norm)
      assert(java.util.Arrays.equals(
        dense.map(java.lang.Float.floatToRawIntBits),
        rebuilt.map(java.lang.Float.floatToRawIntBits)), s"dense mismatch for: ${t.take(40)}")
    }
    // pairwise cosine parity, kernel level (exact bit equality of doubles)
    val pairs = (0 until 300).map(_ =>
      (texts(rnd.nextInt(texts.length)), texts(rnd.nextInt(texts.length))))
    pairs.foreach { case (a, b) =>
      val d = HashingEmbedder.cosine(HashingEmbedder.embed(a), HashingEmbedder.embed(b))
      val sa = HashingEmbedder.embedSparse(a)
      val sb = HashingEmbedder.embedSparse(b)
      val s = HashingEmbedder.cosineSparse(sa.packed, sa.norm, sb.packed, sb.norm)
      assert(java.lang.Double.doubleToRawLongBits(d) == java.lang.Double.doubleToRawLongBits(s),
        s"cosine mismatch $d vs $s for pair (${a.take(20)}, ${b.take(20)})")
    }
    // expression level (codegen path, over the pipeline's signature UDF),
    // against the kernel
    import spark.implicits._
    def svec(c: String) = graft.functions.Fns.signaturesUdf(3, 128, 42L)(col(c)).getField("svec")
    val df = pairs.toDF("a", "b")
      .withColumn("sa", svec("a"))
      .withColumn("sb", svec("b"))
      .withColumn("cos", graft.functions.Fns.cosineSparseCol(col("sa"), col("sb")))
      .select("a", "b", "cos").collect()
    df.foreach { r =>
      val want = HashingEmbedder.cosine(
        HashingEmbedder.embed(r.getString(0)), HashingEmbedder.embed(r.getString(1)))
      assert(java.lang.Double.doubleToRawLongBits(want) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
    }
  }

  // ------------------------------------------------------------ renumber

  test("globalDenseIndex assigns exactly 0..n-1 in order, no unpartitioned window") {
    import spark.implicits._
    val df = spark.range(0, 1000).select((col("id") * 7919 % 1000).as("k"))
      .repartition(8)
    val out = SkewOps.globalDenseIndex(df, col("k"), "dense")
    val rows = out.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).toSeq == (0L until 1000L),
      "dense index must be exactly 0..n-1 in key order")
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // and the plan contains no single-partition window exchange — asserted
    // on the lazy twin (the public result is localCheckpoint-materialized
    // since the round-4 cache-release fix, which hides the plan)
    val (lazyOut, withPid) = SkewOps.denseIndexPlan(df, col("k"), "dense")
    val plan = lazyOut.queryExecution.executedPlan.toString
    withPid.unpersist()
    assert(!plan.contains("SinglePartition"),
      s"renumber plan funnels through one partition:\n$plan")
  }
}
