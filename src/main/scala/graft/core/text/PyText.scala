package graft.core.text

/** CPython-parity text kernels.
  *
  * The reference's demarcation semantics (see `/root/reference/ocr_processor.py:273-293`)
  * ride on CPython string behavior: `re.sub(r"\s+"," ",t).strip()`,
  * `str.lower()`, and `re.findall(re.escape(id), text, re.IGNORECASE)`.
  * Java's `\s`, `String.toLowerCase`, and `CASE_INSENSITIVE` each differ in
  * corners (ASCII-only `\s`; conditional final-sigma lowering; different case
  * folding), so these kernels are driven by tables frozen from the exact
  * CPython runtime (`tools/gen_goldens.py` → `graft/py_*.tsv` resources):
  *
  *  - `py_whitespace.tsv` — code points matched by Python `\s` (Unicode mode).
  *  - `py_lower.tsv`      — full `str.lower()` map (unconditional; includes
  *                           U+0130 → "i̇").
  *  - `py_fold.tsv`       — sre IGNORECASE fold classes
  *                           (`_sre.unicode_tolower` + `re._casefix`).
  *
  * All kernels are pure and allocation-conscious: they sit on the per-turn
  * hot path of a 10^12-row pipeline.
  *
  * `normalize`, `normalizeLower` and `pyLower` take an ASCII path: one scan
  * of the string's chars against a 128-entry class table (Python `\s` from
  * `py_whitespace.tsv`, so `\x1c`–`\x1f` count; `A`–`Z`, the only ASCII
  * chars `str.lower()` changes). It writes Latin-1 bytes only from the
  * first change on and returns the input itself when nothing changes. The
  * boundary is per string: the first char ≥ 0x80 anywhere sends the whole
  * string to the code-point loop (`normalizeCp`, `pyLowerCp`), which is the
  * general path and the oracle the fast paths are tested against.
  */
object PyText {

  private def loadTsv(name: String): Iterator[Array[String]] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"missing resource graft/$name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.split('\t')).toVector.iterator
    finally src.close()
  }

  private val MaxCp = 0x110000

  /** Python `\s` (sre CATEGORY_UNI_SPACE) membership. */
  private val wsSet: java.util.BitSet = {
    val bs = new java.util.BitSet(0x10000)
    loadTsv("py_whitespace.tsv").foreach(f => bs.set(Integer.parseInt(f(0), 16)))
    bs
  }

  /** str.lower() per code point; identity entries omitted from the table.
    * lowerSimple(cp) = single-cp result, or -1 when multi-cp (see lowerMulti). */
  private val (lowerSimple, lowerMulti) = {
    val arr = new Array[Int](MaxCp)
    var i = 0
    while (i < MaxCp) { arr(i) = i; i += 1 }
    val multi = new java.util.HashMap[Integer, String]()
    loadTsv("py_lower.tsv").foreach { f =>
      val cp = Integer.parseInt(f(0), 16)
      val out = f(1).split(' ').map(Integer.parseInt(_, 16))
      if (out.length == 1) arr(cp) = out(0)
      else {
        arr(cp) = -1
        multi.put(cp, new String(out, 0, out.length))
      }
    }
    (arr, multi)
  }

  /** sre IGNORECASE fold: fold(a)==fold(b) ⇔ chars match under re.IGNORECASE. */
  private val foldArr: Array[Int] = {
    val arr = new Array[Int](MaxCp)
    var i = 0
    while (i < MaxCp) { arr(i) = i; i += 1 }
    loadTsv("py_fold.tsv").foreach { f =>
      arr(Integer.parseInt(f(0), 16)) = Integer.parseInt(f(1), 16)
    }
    arr
  }

  /** Final_Sigma context predicates (CPython handle_capital_sigma):
    * 1 = Cased (among non-ignorables), 2 = Case_Ignorable. */
  private val sigmaCtx: Array[Byte] = {
    val arr = new Array[Byte](MaxCp)
    loadTsv("py_sigma_ctx.tsv").foreach { f =>
      arr(Integer.parseInt(f(0), 16)) = if (f(1) == "i") 2 else 1
    }
    arr
  }

  /** CPython's U+03A3 lowering: ς when preceded (skipping Case_Ignorable) by
    * a Cased char and not followed (skipping Case_Ignorable) by one. */
  private def lowerSigma(s: String, sigmaAt: Int): Int = {
    var j = sigmaAt
    var finalSigma = false
    var done = false
    while (!done && j > 0) {
      val cp = s.codePointBefore(j)
      if (sigmaCtx(cp) != 2) { finalSigma = sigmaCtx(cp) == 1; done = true }
      else j -= Character.charCount(cp)
    }
    if (finalSigma) {
      var k = sigmaAt + Character.charCount(0x3A3)
      var fwdDone = false
      while (!fwdDone && k < s.length) {
        val cp = s.codePointAt(k)
        if (sigmaCtx(cp) != 2) { finalSigma = sigmaCtx(cp) != 1; fwdDone = true }
        else k += Character.charCount(cp)
      }
    }
    if (finalSigma) 0x3C2 else 0x3C3
  }

  @inline def isPyWs(cp: Int): Boolean = cp < 0x10000 && wsSet.get(cp)

  @inline def foldCp(cp: Int): Int = foldArr(cp)

  private final val AsciiOther: Byte = 0
  private final val AsciiWs: Byte = 1
  private final val AsciiUpper: Byte = 2

  /** Class of each ASCII char: Python `\s`, `A`–`Z`, or neither. */
  private val asciiClass: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (wsSet.get(c)) AsciiWs else if (c >= 'A' && c <= 'Z') AsciiUpper else AsciiOther
  }

  /** [[isPyWs]] of one UTF-16 char, by the class table when ASCII. No
    * surrogate is whitespace, so a word count by char equals one by code
    * point. */
  @inline def isPyWsChar(c: Char): Boolean =
    if (c < 0x80) asciiClass(c) == AsciiWs else wsSet.get(c)

  /** `str.lower()` of each ASCII char: only `A`–`Z` change. */
  private val asciiLowerByte: Array[Byte] =
    Array.tabulate[Byte](128)(c => (if (c >= 'A' && c <= 'Z') c + 32 else c).toByte)

  /** `s[0, len)` as Latin-1 bytes in a fresh array of `cap`; `s` is ASCII there. */
  private def asciiPrefix(s: String, len: Int, cap: Int): Array[Byte] = {
    val out = new Array[Byte](cap)
    var j = 0
    while (j < len) { out(j) = s.charAt(j).toByte; j += 1 }
    out
  }

  private def latin1(bytes: Array[Byte], len: Int): String =
    new String(bytes, 0, len, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Exact CPython `str.lower()`. ASCII strings map only `A`–`Z`; any
    * other string takes [[pyLowerCp]]. */
  def pyLower(s: String): String = {
    val n = s.length
    var i = 0
    var upper = false
    while (i < n && !upper) {
      val c = s.charAt(i)
      if (c >= 0x80) return pyLowerCp(s)
      upper = asciiClass(c) == AsciiUpper
      i += 1
    }
    if (!upper) return s
    val low = asciiPrefix(s, i - 1, n)
    i -= 1
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 0x80) return pyLowerCp(s)
      low(i) = asciiLowerByte(c)
      i += 1
    }
    latin1(low, n)
  }

  /** `str.lower()` by code point over the frozen tables: the general path
    * of [[pyLower]]. */
  private[text] def pyLowerCp(s: String): String = {
    // fast path: no change needed
    var i = 0
    var changed = false
    while (i < s.length && !changed) {
      val cp = s.codePointAt(i)
      if (lowerSimple(cp) != cp) changed = true
      else i += Character.charCount(cp)
    }
    if (!changed) return s
    val sb = new java.lang.StringBuilder(s.length + 4)
    sb.append(s, 0, i)
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == 0x3A3) sb.appendCodePoint(lowerSigma(s, i))
      else {
        val lo = lowerSimple(cp)
        if (lo >= 0) sb.appendCodePoint(lo)
        else sb.append(lowerMulti.get(cp))
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Exact CPython `str.strip()` (python whitespace set). */
  def pyStrip(s: String): String = {
    var a = 0
    while (a < s.length && isPyWs(s.codePointAt(a)))
      a += Character.charCount(s.codePointAt(a))
    var b = s.length
    while (b > a) {
      val cp = s.codePointBefore(b)
      if (!isPyWs(cp)) return s.substring(a, b)
      b -= Character.charCount(cp)
    }
    s.substring(a, b)
  }

  /** `re.sub(r"\s+", " ", text).strip()` — reference `normalize_text`
    * (`ocr_processor.py:273-275`). Single pass; ASCII strings take the
    * class-table path, any other string [[normalizeCp]]. */
  def normalize(s: String): String = {
    val r = asciiNormalizeLower(s, withLower = false)
    if (r ne null) r._1 else normalizeCp(s)
  }

  /** `(normalize(s), pyLower(normalize(s)))`. On ASCII both come from one
    * pass over `s`, and the two are the same string when the page has no
    * upper case; any other string falls back to `(n, pyLower(n))`. */
  def normalizeLower(s: String): (String, String) = {
    val r = asciiNormalizeLower(s, withLower = true)
    if (r ne null) r
    else {
      val n = normalizeCp(s)
      (n, pyLower(n))
    }
  }

  /** The ASCII path of [[normalize]] / [[normalizeLower]]: null when `s`
    * holds a char ≥ 0x80. The lowered result is null unless `withLower`.
    * The first loop walks the prefix that normalization leaves as is and
    * allocates nothing; from the first change on, the second writes the
    * normalized bytes, which are then lowered in place for the second result. */
  private def asciiNormalizeLower(s: String, withLower: Boolean): (String, String) = {
    val n = s.length
    var i = 0
    var upper = false
    var afterSpace = true // at the start, or just past a single ' '
    var changed = false
    while (i < n && !changed) {
      val c = s.charAt(i)
      if (c >= 0x80) return null
      val k = asciiClass(c)
      if (k == AsciiWs) {
        changed = c != ' ' || afterSpace
        if (!changed) { afterSpace = true; i += 1 }
      } else {
        afterSpace = false
        upper |= k == AsciiUpper
        i += 1
      }
    }
    if (!changed) {
      // only a single trailing ' ' can be stripped from an unchanged prefix
      val norm = if (afterSpace && n > 0) s.substring(0, n - 1) else s
      return (norm, if (!withLower) null else if (!upper) norm else pyLower(norm))
    }
    // s[0, i) is output as is, but for a single ' ' just before s(i), which
    // joins the run that s(i) starts or continues
    var len = if (afterSpace) math.max(i - 1, 0) else i
    val out = asciiPrefix(s, len, n)
    var pending = true
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 0x80) return null
      val k = asciiClass(c)
      if (k == AsciiWs) pending = true
      else {
        if (pending && len > 0) { out(len) = ' '; len += 1 }
        pending = false
        out(len) = c.toByte
        len += 1
        upper |= k == AsciiUpper
      }
      i += 1
    }
    val norm = latin1(out, len)
    if (!withLower) (norm, null)
    else if (!upper) (norm, norm)
    else {
      var j = 0
      while (j < len) { out(j) = asciiLowerByte(out(j)); j += 1 }
      (norm, latin1(out, len))
    }
  }

  /** `re.sub(r"\s+", " ", text).strip()` by code point: the general path of
    * [[normalize]]. */
  private[text] def normalizeCp(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    var changed = false
    while (i < n) {
      val cp = s.codePointAt(i)
      if (isPyWs(cp)) {
        if (cp != ' ' || pendingSpace || sb.length == 0) changed = true
        pendingSpace = true
      } else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    if (pendingSpace) changed = true
    if (!changed) s else sb.toString
  }

  /** `id.lower() in page.lower()` — reference substring gate
    * (`ocr_processor.py:350,370,405,427`). */
  def ciContains(page: String, id: String): Boolean =
    pyLower(page).contains(pyLower(id))

  private def toCps(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0; var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(j) = foldArr(cp)
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  private def hasSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** An identifier folded once by the sre fold table, for a search repeated
    * over many pages (a demarcation alternative, `Demarcator.splitAlts`). */
  private[graft] final class Folded(id: String) {
    private[text] val cps: Array[Int] = toCps(id)
    private[text] val bmp: Boolean = !hasSurrogate(id)
  }

  /** `len(re.findall(re.escape(id), text, re.IGNORECASE))` — non-overlapping,
    * case-insensitive per sre fold classes (`ocr_processor.py:289-293`). */
  def countOccurrences(page: String, id: String): Int =
    countOccurrences(page, new Folded(id))

  private[graft] def countOccurrences(page: String, id: Folded): Int =
    scan(page, id, Int.MaxValue)

  /** `countOccurrences(page, id) > 0` with early exit on the first match —
    * identical fold tables and scan, but O(position of first hit) instead
    * of a full counting pass over the page. */
  def containsOccurrence(page: String, id: String): Boolean =
    scan(page, new Folded(id), 1) > 0

  /** Non-overlapping matches of `id` in `page`, counting up to `limit`.
    * When neither string holds a surrogate, each char is one code point,
    * so the page is folded char by char in place; otherwise it is folded
    * into a code-point array first ([[countCps]]). */
  private def scan(page: String, id: Folded, limit: Int): Int = {
    val p = id.cps
    val m = p.length
    if (page.isEmpty || m == 0) return 0
    if (!id.bmp || hasSurrogate(page)) return countCps(toCps(page), p, limit)
    val n = page.length
    var count = 0
    var i = 0
    while (i <= n - m && count < limit) {
      var j = 0
      while (j < m && foldArr(page.charAt(i + j)) == p(j)) j += 1
      if (j == m) { count += 1; i += m }
      else i += 1
    }
    count
  }

  private def countCps(t: Array[Int], p: Array[Int], limit: Int): Int = {
    val n = t.length
    val m = p.length
    var count = 0
    var i = 0
    while (i <= n - m && count < limit) {
      var j = 0
      while (j < m && t(i + j) == p(j)) j += 1
      if (j == m) { count += 1; i += m }
      else i += 1
    }
    count
  }

  /** [[countOccurrences]] over code-point arrays of both strings: the
    * general path, and the oracle the in-place scan is tested against. */
  private[text] def countOccurrencesCp(page: String, id: String): Int =
    if (page.isEmpty || id.isEmpty) 0 else countCps(toCps(page), toCps(id), Int.MaxValue)

  /** `identifier.strip().lower().startswith("exactmatch:")`
    * (`ocr_processor.py:277-279`). */
  def isExactMatch(id: String): Boolean =
    pyLower(pyStrip(id)).startsWith("exactmatch:")

  private val ExactPrefixFold = toCps("exactmatch:")

  /** `re.sub(r"^ExactMatch:", "", id.strip(), flags=IGNORECASE).strip()`
    * (`ocr_processor.py:281-283`). */
  def cleanExactMatch(id: String): String = {
    val s = pyStrip(id)
    // does the sre-folded prefix match?
    var i = 0; var j = 0
    while (j < ExactPrefixFold.length && i < s.length) {
      val cp = s.codePointAt(i)
      if (foldArr(cp) != ExactPrefixFold(j)) return s
      i += Character.charCount(cp)
      j += 1
    }
    if (j < ExactPrefixFold.length) s else pyStrip(s.substring(i))
  }

  /** `int(v.strip() or 0)` for the stringly-typed rule offsets
    * (`ocr_processor.py:457-458`). Any Unicode DECIMAL digit (category Nd —
    * CPython accepts e.g. U+0660 ARABIC-INDIC THREE and mixes scripts
    * freely; probed: `int("١2") == 12`), optional sign, Python's
    * inter-digit underscores; anything else throws (as `int()` would —
    * superscripts and roman numerals are No/Nl, not Nd, and fail in both). */
  def parseIntish(v: String): Int = {
    val s = pyStrip(v)
    if (s.isEmpty) return 0
    var i = 0
    var neg = false
    if (s.charAt(i) == '+' || s.charAt(i) == '-') { neg = s.charAt(i) == '-'; i += 1 }
    if (i >= s.length) throw new NumberFormatException(v)
    var acc = 0L
    var prevDigit = false
    while (i < s.length) {
      val cp = s.codePointAt(i) // supplementary-plane Nd digits included
      // Character.digit(cp, 10) resolves Nd digits of every script; -1 for
      // everything else (it only maps a-z/A-Z at radix > 10)
      val d = Character.digit(cp, 10)
      val w = Character.charCount(cp)
      if (d >= 0) { acc = acc * 10 + d; prevDigit = true }
      else if (cp == '_' && prevDigit && i + w < s.length) prevDigit = false
      else throw new NumberFormatException(v)
      // sign-aware range guard: -2147483648 (Int.MinValue) is accepted,
      // 2147483648 is not (CPython is arbitrary-precision; Int is the
      // documented divergence at the 32-bit boundary)
      if (acc > Int.MaxValue.toLong + (if (neg) 1L else 0L))
        throw new NumberFormatException(v)
      i += w
    }
    if (neg) (-acc).toInt else acc.toInt
  }
}
