package graft.core

/** Python-`str`-compatible text primitives shared by the kernel ports.
  *
  * The reference pipeline (see `/root/reference/src/news_recap/ingestion/cleaning.py`)
  * leans on CPython string semantics — `\s` regex class, `str.strip()`,
  * code-point (not UTF-16) indexing. This object pins those semantics so the
  * extraction invariant ("byte-identical text per url") holds.
  *
  * The whitespace set below was probed from CPython 3.11 (`re \s` and
  * `str.isspace` agree on all BMP code points); it is shipped as
  * `graft/ws_regex.txt` for the test that re-checks the constant.
  */
object PyText {

  /** Code points matched by Python's `\s` / stripped by `str.strip()`. */
  final val WsChars: Set[Int] = Set(
    0x09, 0x0a, 0x0b, 0x0c, 0x0d, 0x1c, 0x1d, 0x1e, 0x1f, 0x20, 0x85, 0xa0,
    0x1680, 0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
    0x2008, 0x2009, 0x200a, 0x2028, 0x2029, 0x202f, 0x205f, 0x3000)

  /** Java-regex char class body equivalent to Python `\s` (all BMP). */
  final val WsClass: String =
    "\\x09\\x0a\\x0b\\x0c\\x0d\\x1c-\\x1f\\x20\\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"

  @inline def isPyWs(c: Char): Boolean = WsChars.contains(c.toInt)

  /** Python `str.strip()` (no args). */
  def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPyWs(s.charAt(i))) i += 1
    while (j > i && isPyWs(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** Python `str.rstrip()` (no args). */
  def pyRstrip(s: String): String = {
    var j = s.length
    while (j > 0 && isPyWs(s.charAt(j - 1))) j -= 1
    if (j == s.length) s else s.substring(0, j)
  }

  /** Python `len(s)` — code points, not UTF-16 units. */
  def pyLen(s: String): Int = s.codePointCount(0, s.length)

  /** Python `s[:n]` — slice by code points. */
  def pySlice(s: String, n: Int): String = {
    if (s.length == pyLen(s)) { // BMP fast path
      if (n >= s.length) s else s.substring(0, n)
    } else {
      val total = pyLen(s)
      if (n >= total) s else s.substring(0, s.offsetByCodePoints(0, n))
    }
  }

  /** Code-point array of a string (Python iterates code points). */
  def codePoints(s: String): Array[Int] = s.codePoints().toArray

  /** What every per-doc kernel reads (MinHash shingles, the trigram
    * embedder): `text` lowercased under `Locale.ROOT`, `strip()`ped, as
    * code points. */
  def normalized(text: String): Array[Int] =
    codePoints(pyStrip(text.toLowerCase(java.util.Locale.ROOT)))
}
