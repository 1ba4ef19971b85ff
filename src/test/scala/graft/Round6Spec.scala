package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.MinHash
import graft.operators.{ConnectedComponents, DedupConfig, DedupPipeline}
import graft.sources.PagesGen

/** Round-6 optimization regression tests: the 128-bit SimHash pre-gate
  * (results must be invariant — the gate only prunes verify-join noise) and
  * the accumulator-fused CC convergence check (one job per round).
  */
class Round6Spec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  // ------------------------------------------------- simHash128 kernel

  test("simHash128 low half is bit-identical to simHash; high half is " +
    "independent and deterministic") {
    val rnd = new scala.util.Random(6)
    (0 until 200).foreach { _ =>
      val sh = Array.fill(1 + rnd.nextInt(400))(rnd.nextLong())
      val s128 = MinHash.simHash128(sh)
      assert(s128(0) == MinHash.simHash(sh),
        "low half must equal the canonical 64-bit SimHash")
      assert(java.util.Arrays.equals(s128, MinHash.simHash128(sh)),
        "simHash128 must be deterministic")
    }
    // empty set: both halves zero, same contract as simHash
    assert(MinHash.simHash128(Array.emptyLongArray).toSeq == Seq(0L, 0L))
    // the high half must not be a copy of the low half (independence smoke)
    val sh = Array.fill(300)(rnd.nextLong())
    val s = MinHash.simHash128(sh)
    assert(s(0) != s(1))
  }

  // ------------------------------------------- gate result-invariance

  test("128-bit pre-gate changes no verified edge on a generated corpus " +
    "(recall 1.0 at the default gate)") {
    val pages = PagesGen.generate(spark, nDocs = 2500, nDomains = 80, seed = 7L)
    val gated = DedupConfig() // default: 64-gate 23 + 128-gate enabled
    val ungated = gated.copy(simhash128PregateMaxHamming = -1)
    def edgeSet(cfg: DedupConfig): Set[(String, String, Double)] = {
      val sigs = DedupPipeline.signatures(pages, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sigs.count()
      val cand = DedupPipeline.candidates(sigs, cfg)
      val out = DedupPipeline.verifiedEdges(sigs, cand, cfg, diagnostics = true)
        .select(col("url_a"), col("url_b"), col("cosine"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      sigs.unpersist()
      out
    }
    val withGate = edgeSet(gated)
    val noGate = edgeSet(ungated)
    assert(withGate == noGate,
      s"128-bit gate dropped ${(noGate -- withGate).size} true edge(s)")
    assert(withGate.nonEmpty, "fixture must actually contain near-dup edges")
  }

  test("candidates schema is unchanged by the 128-bit gate (helper column " +
    "dropped before the pair exchange)") {
    val pages = PagesGen.generate(spark, nDocs = 300, nDomains = 20, seed = 9L)
    val sigs = DedupPipeline.signatures(pages, DedupConfig())
    val cand = DedupPipeline.candidates(sigs, DedupConfig())
    assert(cand.columns.toSeq == Seq("uid_a", "uid_b", "simhash_hamming"))
  }

  // ------------------------------------- CC accumulator convergence check

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    val v = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
    ConnectedComponents.run(spark, v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("CC with fused convergence check: clique, path, two components") {
    // diameter-1 clique: one fused round must already be the fixed point
    assert(cc(Seq((1L, 2L), (2L, 3L), (1L, 3L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // diameter-4 path: needs propagation across multiple rounds
    assert(cc(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // two components + duplicate edges (vertices deliberately duplicated)
    assert(cc(Seq((10L, 11L), (10L, 11L), (20L, 21L), (21L, 22L))) ==
      Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("CC frees each superseded round's checkpoint: only the returned " +
    "labels stay pinned") {
    import spark.implicits._
    // a path needs several rounds, each with its own checkpoint
    val e = (1L until 17L).map(i => (i, i + 1)).toDF("src", "dst")
    val v = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = ConnectedComponents.run(spark, v, e)
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size == 1, s"CC left ${pinned.size} RDDs pinned, expected the labels' only")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 17L).map(_ -> 1L).toMap)
  }

  test("CC round 1 computes the hop-1 aggregation once (pinned base, no " +
    "duplicated edge-list exchange)") {
    // Mirrors ConnectedComponents round 1's plan shape. With `base` left
    // lazy, AQE does NOT reuse the exchange between its two consumers
    // (measured: the executed plan carried TWO identical
    // Exchange+HashAggregate stages over the cached edge list — the full
    // hop-1 aggregation ran twice, and the cache was scanned 3x). With
    // the eager localCheckpoint the production code now uses, the fused
    // round job scans the edge cache exactly ONCE (the message join);
    // hop-1 labels come from the pinned RDD.
    import spark.implicits._
    val e = (1L to 4000L).map(i => (i, i % 997)).toDF("src", "dst")
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labels = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .select(col("id"), col("id").as("component"))
      val base = sym.select(col("dst").as("id"), col("src").as("component"))
        .union(labels)
        .groupBy("id").agg(min(col("component")).as("component"))
        .localCheckpoint(eager = true)
      val msgs = sym.join(base, sym("src") === base("id"))
        .select(sym("dst").as("id"), col("component"), lit(false).as("own"))
      val next = base.select(col("id"), col("component"), lit(true).as("own"))
        .union(msgs)
        .groupBy("id")
        .agg(min(col("component")).as("component"),
          min(when(col("own"), col("component"))).as("prev_component"))
      next.collect()
      // AQE's explain string repeats the plan ("Final Plan" + "Initial
      // Plan") — count scans in the executed final section only
      val plan = next.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val cacheScans = "InMemoryTableScan".r.findAllIn(plan).size
      assert(cacheScans == 1,
        s"round job must scan the edge cache once, saw $cacheScans:\n$plan")
    } finally sym.unpersist(): Unit
  }

  test("CC convergence check never declares early convergence on a long " +
    "path (accumulator counts every changed label)") {
    // path of 33 vertices: label 1 must reach vertex 33 (diameter 32,
    // ~5 two-hop-seeded rounds); any false-zero convergence check would
    // leave the far end unlabeled
    val edges = (1L until 33L).map(i => (i, i + 1))
    val comps = cc(edges)
    assert(comps.values.toSet == Set(1L))
    assert(comps.size == 33)
  }
}
