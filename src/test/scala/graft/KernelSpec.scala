package graft

import java.util.Base64
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Golden parity tests: the Scala kernel vs outputs recorded from the
  * reference's pure functions (see tools/gen_golden.py).
  */
class KernelSpec extends AnyFunSuite {

  private def b64d(s: String): String =
    new String(Base64.getDecoder.decode(s), "UTF-8")

  private def fixture(name: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"missing fixture $name")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t", -1)).toSeq
  }

  test("html_to_text matches reference byte-for-byte") {
    fixture("extract_golden.tsv").foreach { case Array(i, h, t) =>
      val got = HtmlText.htmlToText(b64d(h))
      assert(got == b64d(t), s"case $i: html=${b64d(h)}")
    }
  }

  test("clean_article_text matches reference") {
    fixture("clean_golden.tsv").foreach { f =>
      val Array(i, c, s, mc, t, trunc, full, enrich) = f
      def opt(x: String): Option[String] = {
        val d = b64d(x); if (d == "\u0000NULL") None else Some(d)
      }
      val got = HtmlText.cleanArticleText(opt(c), opt(s), mc.toInt)
      assert(got.text == b64d(t), s"case $i text")
      assert(got.isTruncated == (trunc == "1"), s"case $i trunc")
      assert(got.isFullContent == (full == "1"), s"case $i full")
      assert(got.needsEnrichment == (enrich == "1"), s"case $i enrich")
    }
  }

  test("canonicalize_url / url_hash / extract_domain match reference") {
    fixture("urlcanon_golden.tsv").foreach { case Array(i, u, c, h, d) =>
      val raw = b64d(u)
      assert(UrlCanon.canonicalize(raw) == b64d(c), s"case $i canon of '$raw'")
      assert(UrlCanon.urlHash(raw) == h, s"case $i hash")
      assert(UrlCanon.extractDomain(raw) == b64d(d), s"case $i domain")
    }
  }

  test("detect_language matches reference") {
    fixture("lang_golden.tsv").foreach { case Array(i, t, title, lang) =>
      assert(LangDetect.detect(b64d(t), b64d(title)) == lang, s"case $i")
    }
  }

  test("HashingEmbedder is bit-identical to reference (float32)") {
    fixture("embedder_golden.tsv").foreach { case Array(i, t, hexv) =>
      val got = HashingEmbedder.embed(b64d(t))
      assert(got.length == 384)
      val bb = java.nio.ByteBuffer.allocate(384 * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      got.foreach(bb.putFloat)
      val gotHex = bb.array().map(b => f"${b & 0xff}%02x").mkString
      assert(gotHex == hexv, s"case $i: vectors differ")
    }
  }

  test("cosine_similarity is bit-identical to reference (float64)") {
    fixture("cosine_golden.tsv").foreach { case Array(i, a, b, hexd) =>
      val va = HashingEmbedder.embed(b64d(a))
      val vb = HashingEmbedder.embed(b64d(b))
      val got = HashingEmbedder.cosine(va, vb)
      val bits = java.lang.Long.reverseBytes(java.lang.Double.doubleToRawLongBits(got))
      assert(f"$bits%016x" == hexd, s"case $i: got $got")
    }
  }

  test("whitespace class matches the probed CPython set") {
    val probed = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/ws_regex.txt"), "UTF-8")
      .getLines().filter(_.nonEmpty).map(Integer.parseInt(_, 16)).toSet
    assert(PyText.WsChars == probed)
    // and the regex class body agrees with the set on the whole BMP
    val p = java.util.regex.Pattern.compile("[" + PyText.WsClass + "]")
    (0 until 0x10000).foreach { c =>
      if (c < 0xD800 || c > 0xDFFF) {
        val m = p.matcher(String.valueOf(c.toChar)).matches()
        assert(m == probed.contains(c), f"cp $c%04x")
      }
    }
  }

  test("minhash estimates Jaccard within tolerance") {
    val a = MinHash.shingles("the quick brown fox jumps over the lazy dog and runs away", 3)
    val b = MinHash.shingles("the quick brown fox jumps over the lazy cat and runs away", 3)
    val exact = MinHash.exactJaccard(a, b)
    val est = MinHash.estimatedJaccard(
      MinHash.signatureOPH(a, 256), MinHash.signatureOPH(b, 256))
    assert(math.abs(exact - est) < 0.15, s"exact=$exact est=$est")
    // identical texts -> identical signatures
    assert(MinHash.signatureOPH(a, 128).sameElements(MinHash.signatureOPH(a, 128)))
    assert(MinHash.estimatedJaccard(MinHash.signatureOPH(a, 128), MinHash.signatureOPH(a, 128)) == 1.0)
    // short text -> null signature
    assert(MinHash.signatureOPH(MinHash.shingles("ab", 3), 128) == null)
  }

  test("simhash hamming tracks similarity") {
    val base = "the quick brown fox jumps over the lazy dog " * 10
    val near = base.replace("lazy", "idle")
    val far = "completely unrelated content about spacecraft telemetry " * 10
    val hBase = MinHash.simHash(MinHash.shingles(base, 3))
    val hNear = MinHash.simHash(MinHash.shingles(near, 3))
    val hFar = MinHash.simHash(MinHash.shingles(far, 3))
    assert(MinHash.hamming(hBase, hNear) < MinHash.hamming(hBase, hFar))
    assert(MinHash.hamming(hBase, hBase) == 0)
  }

  test("suffix-array LCS is exact") {
    assert(SuffixLcs.lcsLength("banana", "ananas") == 5) // "anana"
    assert(SuffixLcs.lcsLength("abc", "xyz") == 0)
    assert(SuffixLcs.lcsLength("", "abc") == 0)
    assert(SuffixLcs.lcsLength("same text", "same text") == 9)
    assert(SuffixLcs.lcsLength("xxabcdyy", "zzabcdww") == 4)
    // brute-force cross-check on random strings
    val rnd = new scala.util.Random(7)
    def brute(a: String, b: String): Int = {
      var best = 0
      for (i <- 0 until a.length; j <- (i + 1) to a.length)
        if (j - i > best && b.contains(a.substring(i, j))) best = j - i
      best
    }
    (1 to 30).foreach { _ =>
      val a = (1 to (5 + rnd.nextInt(40))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val b = (1 to (5 + rnd.nextInt(40))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      assert(SuffixLcs.lcsLength(a, b) == brute(a, b), s"a=$a b=$b")
    }
    assert(math.abs(SuffixLcs.lcsRatio("abcd", "zabcdz") - 1.0) < 1e-12)
  }

  test("text stats are sane and deterministic") {
    assert(TextStats.wsTokenCount("  a  b\tc\nd ") == 4)
    assert(TextStats.wsTokenCount("") == 0)
    assert(TextStats.bpeishTokenCount("hello, world 42!") == 5)
    val q = TextStats.quality("The quick brown fox jumps over the lazy dog. " * 10)
    assert(q.nTokens == 90 && q.score > 0.5)
    assert(TextStats.quality("").score == 0.0)
    assert(TextStats.fingerprint("A  b\tC") == TextStats.fingerprint("a b c"))
    assert(TextStats.fingerprint("abc") != TextStats.fingerprint("abd"))
    val w = TextStats.winnow("the quick brown fox jumps over the lazy dog", 5, 4)
    assert(w.nonEmpty)
    assert(w.sameElements(TextStats.winnow("the quick brown fox jumps over the lazy dog", 5, 4)))
  }
}
