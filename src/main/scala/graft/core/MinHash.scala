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
    */
  def shingles(text: String, k: Int): Array[Long] =
    if (text == null) Array.emptyLongArray else shinglesOf(PyText.normalized(text), k)

  /** [[shingles]] over [[PyText.normalized]] code points; dedup via sort
    * (primitive arrays, no boxing). */
  def shinglesOf(cps: Array[Int], k: Int): Array[Long] = {
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
    * Bit b of a half is set iff more than half of the n input hashes have
    * bit b set (`2 * ones(b) > n`; ties and the empty input give 0). The
    * LOW half is that majority over the raw shingle hashes — the canonical
    * 64-bit [[simHash]] that the oracle aux export, `p_simhash_pairs` and
    * the streaming dedup state consume. The HIGH half runs the same
    * majority over an independently re-mixed copy of each hash (splitmix64
    * of h xor a fixed salt), so the two halves are independent hash
    * functions of the shingle set.
    *
    * Counting is branch-free and lane-packed: accumulator k of a half holds
    * eight byte lanes, and lane j counts bit 8j + k, so one shingle costs
    * 8 shifts, masks and adds per half. A lane holds at most 255, so the
    * lanes are folded into `Int` counts every 255 shingles.
    *
    * Why 128 bits (guide §2.3 "shuffle fewer bytes"): for two docs with
    * cosine-style similarity s, each SimHash bit agrees with probability
    * p(s) > 1/2, so the hamming distance of a TRUE pair concentrates at
    * 128(1-p) with relative spread shrinking as 1/sqrt(bits), while NOISE
    * pairs concentrate at 64 +- 5.7. Doubling the bits roughly doubles the
    * true/noise mean separation in units of noise sigma — at equal recall
    * the gate admits an order of magnitude fewer noise pairs into the
    * verify join (the dedup pipeline's largest exchange; BASELINE.md).
    */
  def simHash128(shingleHashes: Array[Long]): Array[Long] = {
    val n = shingleHashes.length
    val ones = new Array[Int](128)
    val lo = new Array[Long](8)
    val hi = new Array[Long](8)
    var i = 0
    while (i < n) {
      val end = math.min(n, i + 255)
      while (i < end) {
        val h = shingleHashes(i)
        val g = mix64(h ^ 0x5CA1AB1E5CA1AB1EL) // independent second half
        var k = 0
        while (k < 8) {
          lo(k) += (h >>> k) & Lanes
          hi(k) += (g >>> k) & Lanes
          k += 1
        }
        i += 1
      }
      fold(lo, ones, 0)
      fold(hi, ones, 64)
    }
    var outLo = 0L
    var outHi = 0L
    var b = 0
    while (b < 64) {
      if (2 * ones(b) > n) outLo |= 1L << b
      if (2 * ones(64 + b) > n) outHi |= 1L << b
      b += 1
    }
    Array(outLo, outHi)
  }

  /** Low byte of each of a Long's eight byte lanes. */
  private final val Lanes = 0x0101010101010101L

  /** Adds lane j of `acc(k)` to `ones(base + 8j + k)` and clears `acc`. */
  private def fold(acc: Array[Long], ones: Array[Int], base: Int): Unit = {
    var k = 0
    while (k < 8) {
      val a = acc(k)
      var j = 0
      while (j < 8) {
        ones(base + 8 * j + k) += ((a >>> (8 * j)) & 0xff).toInt
        j += 1
      }
      acc(k) = 0L
      k += 1
    }
  }

  /** 64-bit SimHash over shingle hashes (unweighted): the low half of
    * [[simHash128]]. */
  def simHash(shingleHashes: Array[Long]): Long = simHash128(shingleHashes)(0)

  @inline def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
