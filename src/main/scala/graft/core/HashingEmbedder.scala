package graft.core

import java.security.MessageDigest

/** Deterministic 384-dim hashed-character-trigram embedder.
  *
  * Bit-reproducible port of `HashingEmbedder._embed_single`
  * (`/root/reference/src/news_recap/recap/dedup/embedder.py:43-72`):
  * lowercase+strip, pad to >= 3 code points, for each char 3-gram take
  * `little_endian_u32(sha1(utf8(ngram))[0:4]) % 384` and bump that bucket,
  * then L2-normalize. Accumulation is float32 (counts are exact below 2^24),
  * the norm is a float64 left-to-right sum of float64 squares of the float32
  * values, and the division result is rounded back to float32 — exactly the
  * CPython `array("f")` arithmetic, so threshold-edge cosine pairs do not flip.
  *
  * A trigram's bucket is a pure function of its three code points, and the
  * distinct-trigram space is tiny next to the corpus, so buckets are
  * memoized per thread in a [[TrigramMemo]]: a hit costs one probe of a
  * primitive table, a miss runs the sha1 path above.
  */
object HashingEmbedder {
  final val Dimensions = 384
  final val NgramSize = 3

  /** Trigram -> bucket memo, keyed by the packed code-point triple
    * `(c0 << 42) | (c1 << 21) | c2` (code points fit 21 bits, so a key is
    * non-negative and -1 marks an empty slot) in an open-addressed table
    * kept at most half full. A hit allocates nothing; a miss builds the
    * trigram with `appendCodePoint` x3 and hashes its UTF-8 bytes, so lone
    * surrogates map as the String path always mapped them.
    *
    * Memory bound: 10 bytes per slot (a `Long` key, a `Short` bucket). The
    * table starts at 2^12 slots and doubles up to 2^18 (2.6 MB), then is
    * cleared when it would pass half full, so 32 task threads hold at most
    * 84 MB. A shared `ConcurrentHashMap[String, Integer]` of 1 M trigrams
    * measured 126 MB (120 B per entry; JDK 17, compressed oops). The table
    * grows rather than starting at its cap so that a corpus's few thousand
    * distinct trigrams probe a table that fits the core's cache. One
    * instance per thread, so no locking.
    */
  private final class TrigramMemo {
    private var keys = Array.fill(1 << 12)(-1L)
    private var buckets = new Array[Short](1 << 12)
    private var used = 0
    private val sb = new java.lang.StringBuilder(8)
    private val md = MessageDigest.getInstance("SHA-1")

    def bucketOf(c0: Int, c1: Int, c2: Int): Int = {
      val key = (c0.toLong << 42) | (c1.toLong << 21) | c2
      var s = slot(key)
      while (keys(s) != -1L) {
        if (keys(s) == key) return buckets(s)
        s = (s + 1) & (keys.length - 1)
      }
      val b = sha1Bucket(c0, c1, c2)
      if (2 * (used + 1) > keys.length) {
        if (keys.length < MaxMemoSlots) rehash(2 * keys.length)
        else rehash(keys.length, keep = false)
        s = slot(key)
        while (keys(s) != -1L) s = (s + 1) & (keys.length - 1)
      }
      keys(s) = key
      buckets(s) = b.toShort
      used += 1
      b
    }

    private def sha1Bucket(c0: Int, c1: Int, c2: Int): Int = {
      sb.setLength(0)
      sb.appendCodePoint(c0).appendCodePoint(c1).appendCodePoint(c2)
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      val le = (d(0) & 0xffL) | ((d(1) & 0xffL) << 8) | ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 24)
      (le % Dimensions).toInt
    }

    private def slot(key: Long): Int = MinHash.mix64(key).toInt & (keys.length - 1)

    private def rehash(slots: Int, keep: Boolean = true): Unit = {
      val (oldKeys, oldBuckets) = (keys, buckets)
      keys = Array.fill(slots)(-1L)
      buckets = new Array[Short](slots)
      used = 0
      if (keep) {
        var i = 0
        while (i < oldKeys.length) {
          if (oldKeys(i) != -1L) {
            var s = slot(oldKeys(i))
            while (keys(s) != -1L) s = (s + 1) & (slots - 1)
            keys(s) = oldKeys(i)
            buckets(s) = oldBuckets(i)
            used += 1
          }
          i += 1
        }
      }
    }
  }

  private final val MaxMemoSlots = 1 << 18
  private val memo = ThreadLocal.withInitial[TrigramMemo](() => new TrigramMemo)

  /** Code points padded with spaces to at least [[NgramSize]]. */
  private def padded(cps: Array[Int]): Array[Int] =
    if (cps.length < NgramSize) cps ++ Array.fill(NgramSize - cps.length)(' '.toInt)
    else cps

  /** Embed one text into a normalized 384-dim float32 vector. */
  def embed(text: String): Array[Float] = {
    val vector = new Array[Float](Dimensions)
    if (text == null) return vector
    val normalized = PyText.normalized(text)
    if (normalized.isEmpty) return vector

    val cps = padded(normalized)
    val m = memo.get()
    var i = 0
    while (i <= cps.length - NgramSize) {
      vector(m.bucketOf(cps(i), cps(i + 1), cps(i + 2))) += 1.0f
      i += 1
    }

    // float64 left-to-right norm of float32 values, as CPython computes it
    var norm = 0.0
    var j = 0
    while (j < Dimensions) { val v = vector(j).toDouble; norm += v * v; j += 1 }
    norm = math.sqrt(norm)
    if (norm > 0) {
      j = 0
      while (j < Dimensions) { vector(j) = (vector(j).toDouble / norm).toFloat; j += 1 }
    }
    vector
  }

  // ------------------------------------------------------------ sparse form
  //
  // The 384-dim embedding is ~60% zeros on typical web pages (distinct
  // trigrams << dimensions x load factor), and its nonzero values are
  // exactly (count / norm) rounded to f32. Shipping (bucket, count) pairs
  // + the norm instead of 384 dense floats cuts the verify-join shuffle
  // bytes ~2x and the dot-product loop to the nonzero intersection —
  // BITWISE-identical cosine, because:
  //   - counts are exact in f32 below 2^24 (embedder invariant), and
  //     (count / norm).toFloat here reproduces the dense element exactly;
  //   - skipped terms are products with a 0.0 factor = +0.0, and adding
  //     +0.0 to a non-negative f64 accumulator is the identity, so the
  //     ascending-index sparse accumulation equals the dense
  //     left-to-right sum bit for bit (vectors are non-negative).
  // Packing: one Long per nonzero = (bucket << 40) | count (count < 2^40;
  // the dense kernel itself loses count exactness at 2^24 long before).

  final case class SparseVec(packed: Array[Long], norm: Double)

  /** Sparse twin of [[embed]]: same buckets, same norm, exact. */
  def embedSparse(text: String): SparseVec =
    if (text == null) SparseVec(Array.emptyLongArray, 0.0)
    else embedSparseOf(PyText.normalized(text))

  /** [[embedSparse]] over [[PyText.normalized]] code points. */
  def embedSparseOf(normalized: Array[Int]): SparseVec = {
    if (normalized.isEmpty) return SparseVec(Array.emptyLongArray, 0.0)
    val cps = padded(normalized)
    val m = memo.get()
    val counts = new Array[Int](Dimensions)
    var i = 0
    while (i <= cps.length - NgramSize) {
      counts(m.bucketOf(cps(i), cps(i + 1), cps(i + 2))) += 1
      i += 1
    }
    // identical arithmetic to embed(): counts live as f32, norm is the f64
    // left-to-right sum of f64 squares of those f32 values
    var norm = 0.0
    var nz = 0
    var j = 0
    while (j < Dimensions) {
      val v = counts(j).toFloat.toDouble
      norm += v * v
      if (counts(j) != 0) nz += 1
      j += 1
    }
    norm = math.sqrt(norm)
    val packed = new Array[Long](nz)
    var k = 0
    j = 0
    while (j < Dimensions) {
      if (counts(j) != 0) { packed(k) = (j.toLong << 40) | counts(j).toLong; k += 1 }
      j += 1
    }
    SparseVec(packed, norm)
  }

  /** Exact dense reconstruction — bitwise equal to [[embed]]. */
  def sparseToDense(packed: Array[Long], norm: Double): Array[Float] = {
    val v = new Array[Float](Dimensions)
    if (norm <= 0) return v
    var i = 0
    while (i < packed.length) {
      val idx = (packed(i) >>> 40).toInt
      val cnt = packed(i) & 0xFFFFFFFFFFL
      v(idx) = (cnt.toFloat.toDouble / norm).toFloat
      i += 1
    }
    v
  }

  /** Cosine over two sparse embeddings — bitwise equal to [[cosine]] of the
    * dense reconstructions (merge-intersect in ascending bucket order).
    */
  def cosineSparse(a: Array[Long], na: Double, b: Array[Long], nb: Double): Double = {
    var dot = 0.0
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val xi = (a(i) >>> 40).toInt
      val yj = (b(j) >>> 40).toInt
      if (xi < yj) i += 1
      else if (yj < xi) j += 1
      else {
        val va = ((a(i) & 0xFFFFFFFFFFL).toFloat.toDouble / na).toFloat
        val vb = ((b(j) & 0xFFFFFFFFFFL).toFloat.toDouble / nb).toFloat
        dot += va.toDouble * vb.toDouble
        i += 1; j += 1
      }
    }
    math.max(-1.0, math.min(1.0, dot))
  }

  /** `cosine_similarity` port (`embedder.py:115-122`): float64 left-to-right
    * dot of (float32-valued) normalized vectors, clamped to [-1, 1].
    */
  def cosine(left: Array[Float], right: Array[Float]): Double = {
    require(left.length == right.length, "Vectors must have the same size")
    var dot = 0.0
    var i = 0
    while (i < left.length) { dot += left(i).toDouble * right(i).toDouble; i += 1 }
    math.max(-1.0, math.min(1.0, dot))
  }
}
