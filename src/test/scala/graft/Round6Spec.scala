package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.MinHash
import graft.operators.{ConnectedComponents, DedupConfig, DedupPipeline}
import graft.sources.PagesGen

/** Round-6 optimization regression tests: the 128-bit SimHash pre-gate
  * (results must be invariant — the gate only prunes verify-join noise) and
  * connected components (labels, key types, nothing left pinned).
  */
class Round6Spec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  // ------------------------------------------------- simHash128 kernel

  test("simHash128 low half is bit-identical to simHash; high half is " +
    "independent and deterministic") {
    // simHash is simHash128's low half, so both halves are checked against
    // the per-bit majority oracle instead
    val rnd = new scala.util.Random(6)
    (0 until 200).foreach { _ =>
      val sh = Array.fill(1 + rnd.nextInt(400))(rnd.nextLong())
      val s128 = MinHash.simHash128(sh)
      assert(s128.toSeq == KernelOracle.simHash128(sh).toSeq,
        "both halves must equal the per-bit majority oracle")
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

  // ------------------------------------------------ connected components

  /** Labels from the three-argument form, which must equal the
    * edges-only form's when the vertices are the edge endpoints. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    val v = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = labels(ConnectedComponents.run(spark, v, e))
    assert(labels(ConnectedComponents.run(spark, e)) == out, "edges-only form differs")
    out
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

  test("CC pins nothing: no new persistent RDDs after a call") {
    import spark.implicits._
    val e = (1L until 17L).map(i => (i, i + 1)).toDF("src", "dst")
    val v = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = ConnectedComponents.run(spark, v, e)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 17L).map(_ -> 1L).toMap)
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.isEmpty, s"CC left ${pinned.size} RDDs pinned")
  }

  test("CC on struct<h1,h2> keys: component = Spark's min over the struct " +
    "(negative and tied h1, h2 decides)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // few distinct h1 values (negative, tied) so h2 often decides the min
    val keys = (0 until 60).map(_ => (rnd.nextInt(5) - 3).toLong -> (rnd.nextInt(41) - 20).toLong)
      .distinct.toIndexedSeq
    val pairs = (0 until 45).map(_ => (rnd.nextInt(keys.size), rnd.nextInt(keys.size)))
    // brute-force component number per key index: repeated min-relabelling
    val comp = Array.tabulate(keys.size)(identity)
    var changed = true
    while (changed) {
      changed = false
      pairs.foreach { case (a, b) =>
        val m = math.min(comp(a), comp(b))
        if (comp(a) != m || comp(b) != m) { comp(a) = m; comp(b) = m; changed = true }
      }
    }
    val key = struct(col("h1"), col("h2"))
    val byIdx = keys.zipWithIndex.map { case ((h1, h2), i) => (i, h1, h2, comp(i)) }
      .toDF("i", "h1", "h2", "c").select(col("i"), key.as("k"), col("c"))
    val expected = byIdx.join(byIdx.groupBy("c").agg(min(col("k")).as("m")), "c")
      .collect().map(r => r.getStruct(2) -> r.getStruct(3)).toMap
    val k = byIdx.select(col("i"), col("k"))
    val e = pairs.toDF("a", "b")
      .join(k.as("x"), col("a") === col("x.i")).join(k.as("y"), col("b") === col("y.i"))
      .select(col("x.k").as("src"), col("y.k").as("dst"))
    val out = ConnectedComponents.run(spark, k.select(col("k").as("id")), e)
      .collect().map(r => r.getStruct(0) -> r.getStruct(1)).toMap
    assert(keys.exists(_._1 < 0) && expected.size == keys.size)
    assert(out == expected)
  }

  test("CC rejects key types other than bigint and struct<h1,h2>") {
    import spark.implicits._
    val e = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      ConnectedComponents.run(spark, e.select(col("src").as("id")), e)
    }
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
