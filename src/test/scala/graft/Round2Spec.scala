package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{DedupConfig, DedupPipeline, SkewOps}
import graft.runtime.Checkpoint
import graft.sources.PagesGen

/** Round-2 behaviors: exact pre-collapse scaling, hot-bucket cap,
  * alt_urls keeper lineage, LCS verify gate, single-writer lock,
  * gap/retry ledger, id allocators.
  */
class Round2Spec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "r2").toString

  private val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private def pages(rows: Seq[(String, java.sql.Timestamp, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("url", "warc_ts", "text")
  }

  // ---- exact pre-collapse: identical family is O(n), not O(n^2) -------

  test("identical-text family of 500 emits zero LSH candidate pairs") {
    val fam = (0 until 500).map(i =>
      (f"https://x.example/dup/$i%04d", ts0, "the exact same boilerplate page body " * 8))
    val singles = (0 until 50).map { i =>
      // genuinely random per-doc words (a shared word SKELETON like
      // "q3z7k123" still collides at trigram granularity)
      val rnd = new scala.util.Random(i * 2654435761L + 17)
      val body = Array.fill(25)(
        Array.fill(5 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
      (s"https://y.example/lone/$i", ts0, body)
    }
    val df = pages(fam ++ singles)

    // candidate volume measured on the representatives (what run() does)
    val cfg = DedupConfig()
    val keyed = df.withColumn("chash", xxhash64(col("text")))
    val reps = keyed.withColumn("rep",
        min(col("url")).over(org.apache.spark.sql.expressions.Window.partitionBy("chash")))
      .filter(col("url") === col("rep")).drop("chash", "rep")
    val sigs = DedupPipeline.signatures(reps, cfg)
    val nCand = DedupPipeline.candidates(sigs, cfg).count()
    assert(nCand < 50, s"pre-collapsed corpus should emit ~no candidates, got $nCand")

    // end-to-end: all 500 identical docs still come out clustered together
    val out = DedupPipeline.run(spark, df, cfg)
    val famRows = out.filter(col("url").startsWith("https://x.example/dup/"))
    assert(famRows.count() == 500)
    assert(famRows.select("component").distinct().count() == 1)
    // split into ceil(500/20) = 25 chunks, one keeper each
    assert(famRows.select("cluster_id").distinct().count() == 25)
    assert(famRows.filter(col("is_keeper")).count() == 25)
    // singletons dropped
    assert(out.filter(col("url").startsWith("https://y.example/")).count() == 0)
  }

  test("hot-bucket cap bounds candidates for a near-identical (non-exact) family") {
    // 300 docs, each a 1-char-suffix mutation of the same base: not exact
    // dups, all land in the same LSH buckets. With a low cap the bucket is
    // dropped entirely (0 candidates); with the default cap the family
    // still pairs up.
    val base = "shared boilerplate body that differs only by a trailing token " * 6
    val fam = (0 until 300).map(i => (f"https://h.example/$i%03d", ts0, base + i))
    val df = pages(fam)
    val sigs = DedupPipeline.signatures(df, DedupConfig())

    val capped = DedupPipeline.candidates(sigs, DedupConfig()).count() // default cap 200
    val uncapped = DedupPipeline.candidates(sigs, DedupConfig(maxBucketSize = 0)).count()
    assert(uncapped > 40000, s"uncapped near-identical family should be ~O(n^2), got $uncapped")
    // the cap's contract is a per-bucket bound (suffix-perturbed slots can
    // still form sub-cap buckets): post-cap, no (band, bucket) group may
    // exceed the cap, so each contributes at most C(cap, 2) pairs ...
    val bucketed = sigs.filter(col("minhash").isNotNull)
      .select(col("uid"), posexplode(graft.functions.Fns.lshBucketsUdf(32)(col("minhash"))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val maxAfterCap = SkewOps.capHotBuckets(bucketed, Seq(col("band"), col("bucket")), 200)
      .groupBy("band", "bucket").count().agg(max("count")).first().getLong(0)
    assert(maxAfterCap <= 200, s"a bucket survived above the cap: $maxAfterCap")
    // ... which materially shrinks the family's candidate volume
    assert(capped <= uncapped * 3 / 4,
      s"default cap should shrink a 300-doc boilerplate family, got $capped of $uncapped")

    val relaxed = DedupPipeline.candidates(sigs, DedupConfig(maxBucketSize = 1000)).count()
    assert(relaxed == uncapped, "a cap above the family size must not drop anything")
  }

  test("capHotBuckets keeps exactly the under-cap groups") {
    val s = spark
    import s.implicits._
    val df = (Seq.tabulate(40)(i => ("hot", i)) ++ Seq(("a", 1), ("a", 2), ("b", 1)))
      .toDF("k", "v")
    val kept = SkewOps.capHotBuckets(df, Seq(col("k")), 10)
      .select("k").collect().map(_.getString(0)).sorted
    assert(kept.sameElements(Array("a", "a", "b")))
  }

  // ---- alt_urls keeper lineage ----------------------------------------

  test("keeper rows carry alt_urls of every merged-away member in canonical order") {
    val out = DedupPipeline.run(spark,
      PagesGen.generate(spark, 1500, nDomains = 50, seed = 42L), DedupConfig())
    val rows = out.select("cluster_id", "url", "warc_ts", "is_keeper", "alt_urls")
      .collect()
    val byCluster = rows.groupBy(_.getString(0))
    assert(byCluster.nonEmpty)
    byCluster.foreach { case (cid, rs) =>
      val keepers = rs.filter(_.getBoolean(3))
      assert(keepers.length == 1, s"cluster $cid must have exactly one keeper")
      val nonKeepers = rs.filter(!_.getBoolean(3))
      // canonical order: warc_ts desc, url asc
      val expected = nonKeepers
        .sortBy(r => (java.lang.Long.MAX_VALUE - r.getTimestamp(2).getTime, r.getString(1)))
        .map(_.getString(1)).toSeq
      val altRows = keepers.head.getSeq[org.apache.spark.sql.Row](4)
      assert(altRows.map(_.getString(0)) == expected,
        s"cluster $cid alt_urls mismatch")
      // source = host of the url
      altRows.foreach { ar =>
        assert(ar.getString(0).contains(ar.getString(1)), "source must be the url host")
      }
      // non-keepers carry no alt_urls
      assert(nonKeepers.forall(_.isNullAt(4)))
    }
  }

  // ---- suffix-array LCS verify gate ------------------------------------

  test("LCS gate drops shuffled-bag pairs, keeps near-exact overlap, default off") {
    val words = (0 until 120).map(i => s"w${i}abc").toArray
    val textA = words.mkString(" ")
    val textShuffled = new scala.util.Random(7).shuffle(words.toSeq).mkString(" ")
    val textNearExact = textA + " tail"
    val df = pages(Seq(
      ("https://l.example/a", ts0, textA),
      ("https://l.example/b", ts0, textShuffled),
      ("https://l.example/c", ts0, textNearExact)))

    def edgeUrls(cfg: DedupConfig): Set[(String, String)] = {
      val sigs = DedupPipeline.signatures(df, cfg, withText = cfg.lcsMinRatio > 0)
      DedupPipeline.verifiedEdges(sigs,
          DedupPipeline.candidates(sigs, cfg), cfg, diagnostics = true)
        .select("url_a", "url_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
        .map { p: (String, String) =>
          (p._1.stripPrefix("https://l.example/"), p._2.stripPrefix("https://l.example/")) }
    }

    val off = edgeUrls(DedupConfig())
    // same word bag => cosine ~1.0: a-b and a-c and b-c all pass cosine
    assert(off.contains(("a", "b")) || off.contains(("b", "a")),
      s"shuffled pair should pass the cosine-only contract, got $off")
    assert(off.exists(p => p._1 == "c" || p._2 == "c"))

    val on = edgeUrls(DedupConfig(lcsMinRatio = 0.5))
    // shuffled text shares no long substring with the original
    assert(!on.contains(("a", "b")) && !on.contains(("b", "a")),
      s"LCS gate must drop the shuffled pair, got $on")
    // true containment pair survives
    assert(on.contains(("a", "c")) || on.contains(("c", "a")),
      s"LCS gate must keep the near-exact pair, got $on")
  }

  test("LCS gate off: golden clusters unchanged (config hash differs though)") {
    assert(Checkpoint.configHash(DedupConfig()) !=
      Checkpoint.configHash(DedupConfig(lcsMinRatio = 0.5)))
    // pinned: existing checkpoint roots resume only under the same hash
    assert(Checkpoint.configHash(DedupConfig()) == "f2b2e81f95fd1e42")
  }

  // ---- single-writer lock ----------------------------------------------

  test("second concurrent run refuses; stale lock is reaped after TTL") {
    val root = freshRoot()
    val h = "cfg1"
    val t0 = 1000000L
    val run1 = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000, nowMs = t0)

    // concurrent second run: refused while heartbeat is fresh
    val ex = intercept[IllegalStateException] {
      Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000, nowMs = t0 + 1000)
    }
    assert(ex.getMessage.contains("already active"))

    // heartbeat keeps it alive past the original acquisition time
    Checkpoint.heartbeat(root, h, run1, nowMs = t0 + 50000)
    intercept[IllegalStateException] {
      Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000, nowMs = t0 + 100000)
    }

    // after TTL with no heartbeat: reaped, new run acquires, old run marked
    val run2 = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000, nowMs = t0 + 150000)
    assert(run2 != run1)
    val runs = Checkpoint.runs(spark, root).collect()
      .map(r => r.getAs[String]("runId") -> r.getAs[String]("status")).toMap
    assert(runs(run1) == "STALE_FAILED")
    assert(runs(run2) == "RUNNING")

    // release: lock gone, lifecycle row COMPLETED
    Checkpoint.releaseLock(spark, root, h, run2)
    val runsAfter = Checkpoint.runs(spark, root).collect()
      .map(r => r.getAs[String]("runId") -> r.getAs[String]("status")).toMap
    assert(runsAfter(run2) == "COMPLETED")
    // lock is free again
    val run3 = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000, nowMs = t0 + 200000)
    Checkpoint.releaseLock(spark, root, h, run3)
  }

  test("locked runIncremental completes and releases; a crash leaves a reapable lock") {
    val root = freshRoot()
    val pg = PagesGen.generate(spark, 200, nDomains = 10, nDays = 2, seed = 11L)
    val cfg = DedupConfig()
    val days = Checkpoint.runIncremental(spark, pg, root, cfg, lockTtlMs = 3600000)
    assert(days.size == 2)
    val statuses = Checkpoint.runs(spark, root).select("status")
      .collect().map(_.getString(0))
    assert(statuses.contains("COMPLETED"))
    // lock released: an immediate new run works
    assert(Checkpoint.runIncremental(spark, pg, root, cfg, lockTtlMs = 3600000).isEmpty)
  }

  // ---- gap / retry ledger -----------------------------------------------

  test("failed day produces a gap row; next run drains the gap day first") {
    val root = freshRoot()
    val pg = PagesGen.generate(spark, 600, nDomains = 20, nDays = 3, seed = 5L)
    val cfg = DedupConfig()
    val allDays = pg.select(graft.functions.Fns.dayKey(col("warc_ts")).as("d"))
      .distinct().collect().map(_.getString(0)).sorted
    val failDay = allDays(1)

    // run 1: middle day fails softly; the other two complete
    val done1 = Checkpoint.runIncremental(spark, pg, root, cfg, failDays = Set(failDay))
    assert(done1.sorted == (allDays.toSet - failDay).toSeq.sorted)
    val gaps = Checkpoint.openGapDays(spark, root, Checkpoint.configHash(cfg))
    assert(gaps == Seq(failDay))

    // retry_after in the future: not eligible yet
    assert(Checkpoint.openGapDays(spark, root, Checkpoint.configHash(cfg),
      nowMs = 0L).isEmpty)

    // run 2: the gap day is processed (first and only)
    val done2 = Checkpoint.runIncremental(spark, pg, root, cfg)
    assert(done2 == Seq(failDay))
    assert(Checkpoint.openGapDays(spark, root, Checkpoint.configHash(cfg)).isEmpty)

    // output now covers all three days, identical to a clean run
    val cleanRoot = freshRoot()
    Checkpoint.runIncremental(spark, pg, cleanRoot, cfg)
    val a = spark.read.parquet(s"$root/output").select("url", "cluster_id", "is_keeper")
      .collect().map(_.toString).sorted
    val b = spark.read.parquet(s"$cleanRoot/output").select("url", "cluster_id", "is_keeper")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("retry backoff delays gap eligibility") {
    val root = freshRoot()
    val h = "cfgX"
    Checkpoint.recordGap(spark, root, "2026-01-05", h, "boom",
      retryAfterMs = System.currentTimeMillis() + 3600000)
    assert(Checkpoint.openGapDays(spark, root, h).isEmpty)
    assert(Checkpoint.openGapDays(spark, root, h,
      nowMs = System.currentTimeMillis() + 7200000) == Seq("2026-01-05"))
  }

  // ---- allocators + rollup ----------------------------------------------

  test("smallestFreeId and nextBatchId") {
    val s = spark
    import s.implicits._
    assert(Checkpoint.smallestFreeId(Seq(1L, 2L, 4L, 5L).toDF("id"), "id") == 3L)
    assert(Checkpoint.smallestFreeId(Seq(2L, 3L).toDF("id"), "id") == 1L)
    assert(Checkpoint.smallestFreeId(Seq.empty[Long].toDF("id"), "id") == 1L)
    assert(Checkpoint.nextBatchId(Seq(7L, 3L).toDF("id"), "id") == 8L)
    assert(Checkpoint.nextBatchId(Seq.empty[Long].toDF("id"), "id") == 1L)
  }

  // ---- real media codecs --------------------------------------------------

  test("BMP round-trip: encode -> decode is pixel-exact; thumbnail is a real feature") {
    import graft.core.MediaCodecs
    val w = 13; val h = 7 // odd width exercises row padding
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val decoded = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(w, h, rgb))
    assert(decoded.isDefined)
    assert(decoded.get.width == w && decoded.get.height == h)
    assert(decoded.get.rgb.sameElements(rgb))
    val thumb = MediaCodecs.grayThumbnail(decoded.get)
    assert(thumb.length == 64)
    assert(math.abs(thumb.map(v => v * v.toDouble).sum - 1.0) < 1e-5, "thumbnail L2-normalized")
    // a different image produces a different thumbnail
    val rgb2 = rgb.clone(); rgb2(0) = (rgb2(0) + 97).toByte; rgb2(3) = (rgb2(3) + 51).toByte
    val t2 = MediaCodecs.grayThumbnail(MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(w, h, rgb2)).get)
    assert(!thumb.sameElements(t2))
    // garbage is rejected, not mis-decoded
    assert(MediaCodecs.decodeBmp("not a bmp at all".getBytes).isEmpty)
  }

  test("WAV round-trip: PCM samples and duration are exact") {
    import graft.core.MediaCodecs
    val samples = Array.tabulate(800)(i => (math.sin(i / 10.0) * 20000).toShort)
    val wav = MediaCodecs.decodeWav(MediaCodecs.encodeWav(2, 16000, samples))
    assert(wav.isDefined)
    assert(wav.get.channels == 2 && wav.get.sampleRate == 16000)
    assert(wav.get.samples.sameElements(samples))
    // 800 interleaved stereo samples = 400 frames at 16 kHz = 25 ms
    assert(MediaCodecs.durationMs(wav.get) == 25)
    val prof = MediaCodecs.energyProfile(wav.get)
    assert(prof.length == 64 && prof.exists(_ > 0))
    assert(MediaCodecs.decodeWav(Array.fill[Byte](100)(3)).isEmpty)
  }

  test("PNG header parse reads IHDR dimensions") {
    import graft.core.MediaCodecs
    // minimal synthetic PNG prefix: magic + IHDR(200x100, 8-bit, RGB)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    bos.write(Array[Byte](0, 0, 0, 13)) // IHDR length
    bos.write("IHDR".getBytes)
    bos.write(Array[Byte](0, 0, 0, 200.toByte)) // width 200
    bos.write(Array[Byte](0, 0, 0, 100)) // height 100
    bos.write(Array[Byte](8, 2, 0, 0, 0)) // depth 8, color 2 (RGB)
    bos.write(new Array[Byte](4)) // crc (unchecked)
    val h = MediaCodecs.parsePngHeader(bos.toByteArray)
    assert(h.contains(MediaCodecs.PngHeader(200, 100, 8, 2)))
    assert(MediaCodecs.parsePngHeader("BM garbage".getBytes).isEmpty)
  }

  test("extractFeatures decodes generated media: real dims, durations, embeddings") {
    import graft.operators.Multimodal
    val media = Multimodal.generateMedia(spark, 90, seed = 4L)
    val feats = Multimodal.extractFeatures(spark, media, batchSize = 16).collect()
    assert(feats.length == 90)
    feats.foreach { r =>
      val kind = r.getAs[String]("kind")
      val (w, h, d) = (r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Int]("duration_ms"))
      kind match {
        case "image" => assert(w >= 8 && w <= 32 && h >= 6 && h <= 24 && d == 0)
        case "audio" => assert(w == 0 && h == 0 && d >= 50 && d <= 450)
        case _       => assert(w == 0 && h == 0 && d == 0) // opaque container
      }
      val emb = r.getAs[scala.collection.Seq[Float]]("embedding")
      assert(emb.length == 64)
    }
  }

  test("ANN corpus self-top-k finds planted twins with the bucket self-join") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // plant a noisy twin of each of the first 25 vectors INTO the corpus
    val planted = emb.filter(col("vec_id") < 25).collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      val rnd = new scala.util.Random(r.getLong(0) + 7)
      val noisy = v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      val n = math.sqrt(noisy.map(x => x.toDouble * x).sum).toFloat
      (r.getLong(0) + 1000000L, noisy.map(_ / n))
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(planted.toSeq.toDF("vec_id", "embedding"))
    val top1 = graft.operators.Ann.selfTopK(corpus, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each planted twin's nearest neighbor is its source, and vice versa
    val hitsTwin = planted.count(p => top1.get(p._1).contains(p._1 - 1000000L))
    val hitsSrc = planted.count(p => top1.get(p._1 - 1000000L).contains(p._1))
    info(s"self-top-k twin recall: $hitsTwin/25 forward, $hitsSrc/25 back")
    assert(hitsTwin >= 22 && hitsSrc >= 22)
    // every corpus doc that appears got a rank-1 row at most once
    assert(top1.size <= corpus.count())
  }

  test("usage rollup aggregates the metrics table per config") {
    val root = freshRoot()
    val pg = PagesGen.generate(spark, 300, nDomains = 10, nDays = 2, seed = 3L)
    Checkpoint.runIncremental(spark, pg, root, DedupConfig())
    val r = Checkpoint.usageRollup(spark, root).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_partitions") == 2)
    assert(row.getAs[Long]("docs_in") == 300)
    assert(row.getAs[Long]("duplicates_removed") ==
      row.getAs[Long]("docs_clustered") - row.getAs[Long]("clusters"))
  }
}
