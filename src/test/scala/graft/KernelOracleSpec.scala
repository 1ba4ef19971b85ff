package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{HashingEmbedder, MinHash, PyText}
import graft.functions.Fns
import graft.operators.{DedupConfig, DedupPipeline}
import graft.sources.PagesGen

/** The straightforward forms of the per-doc kernel, kept as the reference
  * the fast forms must equal bit for bit: SimHash-128 as one data-dependent
  * branch per bit, trigram buckets as sha1 of a fresh `String`, and the
  * pipeline's signature columns as two UDFs (shingle bundle, sparse
  * embedding) over the text.
  */
object KernelOracle {

  def simHash128(shingleHashes: Array[Long]): Array[Long] = {
    if (shingleHashes.isEmpty) return Array(0L, 0L)
    val counts = new Array[Int](128)
    var i = 0
    while (i < shingleHashes.length) {
      val h = shingleHashes(i)
      val g = MinHash.mix64(h ^ 0x5CA1AB1E5CA1AB1EL)
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

  def bucketOf(ngram: String): Int = {
    val d = MessageDigest.getInstance("SHA-1").digest(ngram.getBytes("UTF-8"))
    val le = (d(0) & 0xffL) | ((d(1) & 0xffL) << 8) | ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 24)
    (le % HashingEmbedder.Dimensions).toInt
  }

  /** Per-bucket trigram counts of the text, or null for a null/blank text. */
  private def counts(text: String): Array[Int] = {
    if (text == null) return null
    val normalized = PyText.pyStrip(text.toLowerCase(java.util.Locale.ROOT))
    if (normalized.isEmpty) return null
    val cps0 = PyText.codePoints(normalized)
    val cps = if (cps0.length < 3) cps0 ++ Array.fill(3 - cps0.length)(' '.toInt) else cps0
    val counts = new Array[Int](HashingEmbedder.Dimensions)
    val sb = new java.lang.StringBuilder(8)
    var i = 0
    while (i <= cps.length - 3) {
      sb.setLength(0)
      sb.appendCodePoint(cps(i)).appendCodePoint(cps(i + 1)).appendCodePoint(cps(i + 2))
      counts(bucketOf(sb.toString)) += 1
      i += 1
    }
    counts
  }

  def embed(text: String): Array[Float] = {
    val c = counts(text)
    val v = new Array[Float](HashingEmbedder.Dimensions)
    if (c == null) return v
    c.indices.foreach(j => v(j) = c(j).toFloat)
    val norm = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
    if (norm > 0) v.indices.foreach(j => v(j) = (v(j).toDouble / norm).toFloat)
    v
  }

  def embedSparse(text: String): HashingEmbedder.SparseVec = {
    val c = counts(text)
    if (c == null) return HashingEmbedder.SparseVec(Array.emptyLongArray, 0.0)
    val norm = math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x.toFloat.toDouble * x.toFloat.toDouble))
    val packed = c.indices.filter(c(_) != 0).map(j => (j.toLong << 40) | c(j).toLong).toArray
    HashingEmbedder.SparseVec(packed, norm)
  }

  /** The shingle bundle of one text: (minhash, simhash, simhash2, nShingles). */
  final case class Shingled(minhash: Array[Long], simhash: Long, simhash2: Long, nShingles: Int)
  def shingled(text: String, k: Int, numHashes: Int, seed: Long): Shingled = {
    val sh = MinHash.shingles(text, k)
    if (sh.isEmpty) Shingled(null, 0L, 0L, 0)
    else {
      val s128 = simHash128(sh)
      Shingled(MinHash.signatureOPH(sh, numHashes, seed), s128(0), s128(1), sh.length)
    }
  }

  /** `DedupPipeline.signatures` as two UDF calls per row. */
  def signatures(pages: DataFrame, cfg: DedupConfig): DataFrame = {
    val shingledUdf = udf { t: String => shingled(t, cfg.shingleK, cfg.numHashes, cfg.seed) }
    val svecUdf = udf { t: String => embedSparse(t) }
    pages.select(col("url"), col("warc_ts"), col("text"))
      .withColumn("sig", shingledUdf(col("text")))
      .withColumn("svec", svecUdf(col("text")))
      .select(
        struct(xxhash64(col("url")).as("h1"), xxhash64(col("url"), lit(0x9E3779B9L)).as("h2")).as("uid"),
        col("url"), col("warc_ts"),
        length(col("text")).as("n_chars"),
        col("sig.minhash").as("minhash"),
        col("sig.simhash").as("simhash"),
        col("sig.simhash2").as("simhash2"),
        col("sig.nShingles").as("n_shingles"),
        col("svec"))
  }
}

class KernelOracleSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val cfg = DedupConfig()

  /** Texts at the normalization edges: null, blank, under k code points,
    * case folding that changes length, non-BMP code points, lone and
    * reversed surrogates, NUL. */
  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", " \t\n\u3000 ", "a", "ab", " ab ", "AB", "abc", "\u0130", "\u01C5x",
    "\uD83D\uDE00", "a\uD83D\uDE00b\uD83D\uDE01c", "\uD800", "x\uDC00y",
    "\uD800\uD800\uD800", "\uDC00\uD800 z", "\uDBFF\uDFFF\uDBFF", "\u0000\u0000\u0000",
    "\u00DCn\u00EFc\u00F6d\u00E9 \u0422\u0415\u041A\u0421\u0422 \uD835\uDD18\uD835\uDD2B " * 7)

  private lazy val corpus: Seq[String] =
    PagesGen.generate(spark, 600, nDomains = 30, seed = 5L)
      .select("text").collect().map(_.getString(0)).toSeq

  private def bits(v: Array[Float]): Seq[Int] = v.toSeq.map(java.lang.Float.floatToRawIntBits)
  private def sameSvec(a: HashingEmbedder.SparseVec, b: HashingEmbedder.SparseVec): Boolean =
    a.packed.sameElements(b.packed) &&
      java.lang.Double.doubleToRawLongBits(a.norm) == java.lang.Double.doubleToRawLongBits(b.norm)

  test("lane-packed simHash128 equals the per-bit oracle at every lane-flush edge") {
    val rnd = new scala.util.Random(11)
    for (n <- Seq(0, 1, 2, 254, 255, 256, 509, 510, 511, 1000, 4000)) {
      val inputs = Seq(Array.fill(n)(0L), Array.fill(n)(-1L)) ++
        (0 until 5).map(_ => Array.fill(n)(rnd.nextLong()))
      inputs.foreach { sh =>
        val want = KernelOracle.simHash128(sh)
        assert(MinHash.simHash128(sh).toSeq == want.toSeq, s"n=$n head=${sh.headOption}")
        assert(MinHash.simHash(sh) == want(0), s"n=$n")
      }
    }
    // every low-half bit decided by one vote or tied, across a lane flush
    for ((ones, zeros) <- Seq((255, 256), (256, 255), (255, 255), (256, 256))) {
      val sh = Array.fill(ones)(-1L) ++ Array.fill(zeros)(0L)
      assert(MinHash.simHash128(sh).toSeq == KernelOracle.simHash128(sh).toSeq, s"$ones/$zeros")
    }
  }

  test("fused per-doc kernel equals the oracle on edge texts and a generated corpus") {
    (edgeTexts ++ corpus).foreach { t =>
      val got = Fns.docSignature(t, cfg.shingleK, cfg.numHashes, cfg.seed)
      val want = KernelOracle.shingled(t, cfg.shingleK, cfg.numHashes, cfg.seed)
      val what = s"text ${Option(t).map(_.take(30))}"
      assert((got.minhash == null) == (want.minhash == null), what)
      if (want.minhash != null) assert(got.minhash.sameElements(want.minhash), what)
      assert((got.simhash, got.simhash2, got.nShingles) ==
        (want.simhash, want.simhash2, want.nShingles), what)
      assert(sameSvec(got.svec, KernelOracle.embedSparse(t)), what)
      assert(sameSvec(HashingEmbedder.embedSparse(t), KernelOracle.embedSparse(t)), what)
      assert(bits(HashingEmbedder.embed(t)) == bits(KernelOracle.embed(t)), what)
    }
  }

  test("trigram memo equals the oracle through growth and reset, on a fresh thread") {
    // ~300 k distinct trigrams: the per-thread table grows to its cap and
    // is cleared at least once within one text. The non-BMP code points and
    // their low-16-bit twins (U+1F600 / U+F600) catch a key that packs code
    // points as 16 bits.
    val rnd = new scala.util.Random(3)
    val alphabet = (('a' to 'z') ++ ('α' to 'ω') ++ ('а' to 'я') ++ "0123456789 ".toSeq)
      .map(_.toInt) ++ (0xF600 to 0xF60F) ++ (0x1F600 to 0x1F60F)
    val sb = new java.lang.StringBuilder
    (0 until 400000).foreach(_ => sb.appendCodePoint(alphabet(rnd.nextInt(alphabet.length))))
    val big = sb.toString
    val want = KernelOracle.embedSparse(big)
    var got: Seq[HashingEmbedder.SparseVec] = Nil
    val t = new Thread(() => got = Seq.fill(2)(HashingEmbedder.embedSparse(big)))
    t.start(); t.join()
    assert(got.size == 2 && got.forall(sameSvec(_, want)))
  }

  test("8 threads embedding one corpus at once get the single-threaded vectors") {
    val texts = (edgeTexts ++ corpus).toIndexedSeq
    val want = texts.map(KernelOracle.embedSparse)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[HashingEmbedder.SparseVec]] {
          def call(): Seq[HashingEmbedder.SparseVec] = {
            start.await()
            // each thread walks the corpus from a different offset
            texts.indices.map(i => (i + w * 37) % texts.size).sorted
              .map(i => HashingEmbedder.embedSparse(texts(i)))
          }
        })
      }
      start.countDown()
      futures.foreach { f =>
        val got = f.get()
        texts.indices.foreach(i => assert(sameSvec(got(i), want(i)), s"text $i"))
      }
    } finally pool.shutdown()
  }

  test("signatures frame equals the two-UDF oracle frame: schema, nullability, rows") {
    import spark.implicits._
    val extra = edgeTexts.zipWithIndex.map { case (t, i) =>
      (s"https://edge.example/$i", new java.sql.Timestamp(0L), t)
    }.toDF("url", "warc_ts", "text")
    val pages = PagesGen.generate(spark, 600, nDomains = 30, seed = 5L)
      .select("url", "warc_ts", "text").union(extra)
    val got = DedupPipeline.signatures(pages, cfg)
    val want = KernelOracle.signatures(pages, cfg)
    assert(got.schema == want.schema)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case other => other
    }).sortBy(_(1).toString).toSeq
    assert(rows(got) == rows(want))
  }
}
