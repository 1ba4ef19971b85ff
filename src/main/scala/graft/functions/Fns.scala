package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Column-level function surface of the engine.
  *
  * Everything that CAN be a built-in Catalyst expression chain IS one
  * (codegen'd, pushdown-friendly): language detection, cosine similarity,
  * hamming distance, URL day-keys. Only genuinely opaque kernels are Scala
  * UDFs — HTML extraction, URL canonicalization, the dense embedding and
  * the per-doc signature kernel, which derives MinHash, SimHash-128 and
  * the sparse embedding from one normalization of the text in one UDF
  * call. All are pure, null-safe and tested standalone in graft.core.
  */
object Fns {

  // ------------------------------------------------------------ pure exprs

  /** Reference `detect_language` (`ingestion/language.py:7-39`) as a pure
    * when/rlike chain — whole-stage-codegen, no UDF.
    */
  def detectLanguage(text: Column, title: Column): Column = {
    val sample = trim(concat_ws(" ", title, text))
    val hasCyr = sample.rlike("[\\u0400-\\u04FF]")
    val hasLat = sample.rlike("[A-Za-z]")
    val hasSr = sample.rlike("[\\u0459\\u045A\\u0452\\u045B\\u045F\\u0408\\u040A\\u0402\\u040B\\u040F\\u010D\\u0107\\u017E\\u0161\\u0111\\u010C\\u0106\\u017D\\u0160\\u0110]")
    when(length(sample) === 0, "unknown")
      .when(hasCyr && hasSr, "sr")
      .when(hasCyr, "ru")
      .when(hasLat && hasSr, "sr")
      .when(hasLat, "en")
      .otherwise("unknown")
  }

  /** Cosine of two float-array columns with the reference's float64
    * left-to-right accumulation (`recap/dedup/embedder.py:115-122`), clamped.
    * Custom codegen expression (see [[CosineF32]]) — allocation-free in the
    * verify-join hot loop.
    */
  def cosineCol(a: Column, b: Column): Column = CosineF32(a, b)

  /** Same semantics via built-in higher-order functions (kept as the
    * cross-check twin of [[CosineF32]] in FnsSpec).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)
    greatest(lit(-1.0), least(lit(1.0), dot))
  }

  /** Estimated Jaccard from two MinHash signatures: fraction of equal slots. */
  def estJaccardCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(a)

  /** Hamming distance of two 64-bit SimHashes — built-in bit ops. */
  def hammingCol(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** UTC day partition key of a timestamp (reference `storage/io.py:48-60`,
    * with the session tz pinned UTC).
    */
  def dayKey(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  // ------------------------------------------------------------ UDF kernels

  val extractTextUdf = udf { html: Array[Byte] =>
    if (html == null) "" else HtmlText.htmlToText(new String(html, "UTF-8"))
  }
  val extractTextStrUdf = udf { html: String =>
    if (html == null) "" else HtmlText.htmlToText(html)
  }
  val canonicalUrlUdf = udf { url: String =>
    if (url == null) null else UrlCanon.canonicalize(url)
  }
  val urlHashUdf = udf { url: String =>
    if (url == null) null else UrlCanon.urlHash(url)
  }
  val domainUdf = udf { url: String =>
    if (url == null) "unknown" else UrlCanon.extractDomain(url)
  }
  val embedUdf = udf { text: String => HashingEmbedder.embed(text) }

  /** Exact dense reconstruction of a sparse embedding (oracle export). */
  val sparseToDenseUdf = udf { sv: HashingEmbedder.SparseVec =>
    HashingEmbedder.sparseToDense(sv.packed, sv.norm)
  }

  /** Cosine over two sparse embeddings — codegen'd, bitwise-equal to
    * [[cosineCol]] over the dense reconstructions.
    */
  def cosineSparseCol(a: Column, b: Column): Column = CosineSparse(a, b)

  /** Everything the dedup pipeline derives from one doc's text.
    *
    * `minhash` is the OPH MinHash signature, null for texts shorter than k
    * code points (they can never be near-dups; callers filter). `simhash`
    * is the canonical 64-bit SimHash ([[graft.core.MinHash.simHash]] — the
    * oracle export and `p_simhash_pairs` consume it); `simhash2` is the
    * independent high half of [[graft.core.MinHash.simHash128]], used only
    * by the dedup candidate pre-gate. `nShingles` counts distinct shingles.
    * `svec` is the sparse trigram embedding (struct(packed: array<bigint>,
    * norm: double), ~2.5x fewer verify-join shuffle bytes than the dense
    * form, bitwise-equal cosine); it is padded, so non-empty, for every
    * text with a non-blank character.
    */
  final case class SigBundle(minhash: Array[Long], simhash: Long, simhash2: Long,
                             nShingles: Int, svec: HashingEmbedder.SparseVec)

  /** The per-doc signature kernel: normalizes the text once and derives
    * every [[SigBundle]] field from the same code points. */
  def docSignature(text: String, k: Int, numHashes: Int, seed: Long): SigBundle = {
    val cps = if (text == null) Array.emptyIntArray else PyText.normalized(text)
    val sh = MinHash.shinglesOf(cps, k)
    val svec = HashingEmbedder.embedSparseOf(cps)
    if (sh.isEmpty) SigBundle(null, 0L, 0L, 0, svec)
    else {
      val s128 = MinHash.simHash128(sh)
      SigBundle(MinHash.signatureOPH(sh, numHashes, seed), s128(0), s128(1), sh.length, svec)
    }
  }

  /** [[docSignature]] as one UDF: the pipeline runs it once per row. */
  def signaturesUdf(k: Int, numHashes: Int, seed: Long) = udf { text: String =>
    docSignature(text, k, numHashes, seed)
  }

  /** LSH band-bucket hashes: one 64-bit hash per band over its signature
    * rows. Emitted as an array to posexplode into (band, bucket) rows.
    */
  def lshBucketsUdf(bands: Int) = udf { sig: Array[Long] =>
    if (sig == null) null
    else {
      val rows = sig.length / bands
      Array.tabulate(bands) { b =>
        var h = 0xCBF29CE484222325L ^ b
        var i = b * rows
        while (i < (b + 1) * rows) { h = MinHash.mix64(h ^ sig(i)); i += 1 }
        h
      }
    }
  }

  val lcsRatioUdf = udf { (a: String, b: String) => SuffixLcs.lcsRatio(a, b) }
  val fingerprintUdf = udf { text: String => TextStats.fingerprint(text) }
  val wsTokensUdf = udf { text: String => TextStats.wsTokenCount(text) }
  val bpeTokensUdf = udf { text: String => TextStats.bpeishTokenCount(text) }
  val qualityUdf = udf { text: String => TextStats.quality(text) }
  val winnowUdf = udf { (text: String, k: Int, w: Int) => TextStats.winnow(text, k, w) }

  /** Register the SQL-facing names (for spark.sql users of the engine). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("graft_extract_text", extractTextStrUdf)
    spark.udf.register("graft_canonical_url", canonicalUrlUdf)
    spark.udf.register("graft_url_hash", urlHashUdf)
    spark.udf.register("graft_domain", domainUdf)
    spark.udf.register("graft_embed", embedUdf)
    spark.udf.register("graft_fingerprint", fingerprintUdf)
    spark.udf.register("graft_lcs_ratio", lcsRatioUdf)
  }
}
