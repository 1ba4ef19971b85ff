package graft.core

import scala.collection.mutable

/** Char-shingle MinHash / SimHash kernel.
  *
  * This is the *scale* layer of the dedup engine: the reference compares all
  * pairs with cosine over [[HashingEmbedder]] vectors
  * (`/root/reference/src/news_recap/recap/dedup/cluster.py:53-70`, O(n²));
  * we generate candidate pairs with MinHash-LSH banding over char k-shingles
  * (same character granularity as the reference's 3-gram embedder when k=3)
  * and verify candidates with the exact reference-parity cosine predicate.
  *
  * All hashing is splitmix64-style mixing over a 64-bit FNV-1a base hash of
  * the shingle's code points — deterministic, seed-stable, JVM-only (no
  * dependency on Spark's hash functions so the kernel is testable standalone).
  */
object MinHash {

  /** splitmix64 finalizer — public-domain mixing constants. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over code points, then mixed for diffusion. */
  private def hashWindow(cps: Array[Int], from: Int, k: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < from + k) {
      val c = cps(i)
      h = (h ^ (c & 0xff)) * 0x100000001B3L
      h = (h ^ ((c >>> 8) & 0xff)) * 0x100000001B3L
      h = (h ^ ((c >>> 16) & 0xff)) * 0x100000001B3L
      i += 1
    }
    mix64(h)
  }

  /** Distinct 64-bit hashes of the lowercased text's char k-shingles.
    * Returns empty for texts shorter than k (those never join clusters).
    * Dedup via sort (primitive arrays, no boxing).
    */
  def shingles(text: String, k: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val norm = PyText.pyStrip(text.toLowerCase(java.util.Locale.ROOT))
    val cps = PyText.codePoints(norm)
    if (cps.length < k) return Array.emptyLongArray
    val all = new Array[Long](cps.length - k + 1)
    var i = 0
    while (i <= cps.length - k) { all(i) = hashWindow(cps, i, k); i += 1 }
    java.util.Arrays.sort(all)
    var w = 1
    i = 1
    while (i < all.length) {
      if (all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    if (w == all.length) all else java.util.Arrays.copyOf(all, w)
  }

  /** One-permutation MinHash with rotation densification (Li/Owen/Zhang
    * 2012 — the web-scale variant): hash each shingle ONCE, scatter into m
    * slots by its top bits, keep the unsigned-min per slot, then fill empty
    * slots from the next non-empty slot clockwise (re-mixed with the slot
    * index so borrowed values stay slot-specific). O(|shingles| + m) vs the
    * classic O(|shingles| * m); slot-equality probability still estimates
    * Jaccard, so the same LSH banding math applies.
    */
  def signatureOPH(shingleHashes: Array[Long], m: Int, seed: Long = 42L): Array[Long] = {
    if (shingleHashes.isEmpty) return null
    val sig = new Array[Long](m)
    val filled = new Array[Boolean](m)
    val seedKey = mix64(seed)
    var i = 0
    while (i < shingleHashes.length) {
      val h = mix64(shingleHashes(i) ^ seedKey)
      val slot = ((h >>> 33) % m).toInt // top bits pick the slot
      if (!filled(slot) || java.lang.Long.compareUnsigned(h, sig(slot)) < 0) {
        sig(slot) = h
        filled(slot) = true
      }
      i += 1
    }
    var j = 0
    while (j < m) {
      if (!filled(j)) {
        var k = (j + 1) % m
        while (!filled(k)) k = (k + 1) % m // >=1 filled slot guaranteed
        sig(j) = mix64(sig(k) ^ j)
      }
      j += 1
    }
    sig
  }

  /** Estimated Jaccard = fraction of equal signature slots. */
  def estimatedJaccard(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length, "signature lengths differ")
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Exact Jaccard of two shingle-hash sets. */
  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    val sa = a.toSet
    var inter = 0; var i = 0
    val sb = new mutable.HashSet[Long]
    while (i < b.length) { if (sb.add(b(i)) && sa.contains(b(i))) inter += 1; i += 1 }
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** 128-bit SimHash as two 64-bit halves, one pass over the shingles.
    *
    * The LOW half is bit-identical to [[simHash]] (same per-bit majority
    * over the raw shingle hashes) so every existing 64-bit consumer — the
    * oracle aux export, `p_simhash_pairs`, the streaming dedup state — is
    * unchanged; the HIGH half runs the same majority over an independently
    * re-mixed copy of each shingle hash (splitmix64 of h xor a fixed salt,
    * so the two halves' bits are pairwise independent hash functions of
    * the shingle set).
    *
    * Why 128 bits (round-6 optimization, guide §2.3 "shuffle fewer
    * bytes"): for two docs with cosine-style similarity s, each SimHash
    * bit agrees with probability p(s) > 1/2, so the hamming distance of a
    * TRUE pair concentrates at 128(1-p) with relative spread shrinking as
    * 1/sqrt(bits), while NOISE pairs concentrate at 64 +- 5.7. Doubling
    * the bits roughly doubles the true/noise mean separation in units of
    * noise sigma — at equal recall the gate admits an order of magnitude
    * fewer noise pairs into the verify join (the dedup pipeline's largest
    * exchange; measured in BASELINE.md round 6).
    */
  def simHash128(shingleHashes: Array[Long]): Array[Long] = {
    if (shingleHashes.isEmpty) return Array(0L, 0L)
    val counts = new Array[Int](128)
    var i = 0
    while (i < shingleHashes.length) {
      val h = shingleHashes(i)
      val g = mix64(h ^ 0x5CA1AB1E5CA1AB1EL) // independent second half
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        if (((g >>> b) & 1L) == 1L) counts(64 + b) += 1 else counts(64 + b) -= 1
        b += 1
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) lo |= (1L << b)
      if (counts(64 + b) > 0) hi |= (1L << b)
      b += 1
    }
    Array(lo, hi)
  }

  /** 64-bit SimHash over shingle hashes (unweighted). */
  def simHash(shingleHashes: Array[Long]): Long = {
    if (shingleHashes.isEmpty) return 0L
    val counts = new Array[Int](64)
    var i = 0
    while (i < shingleHashes.length) {
      val h = shingleHashes(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  @inline def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
