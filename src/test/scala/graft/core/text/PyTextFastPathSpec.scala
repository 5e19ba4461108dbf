package graft.core.text

import graft.core.extract.Extractor
import graft.gen.SyntheticTranscripts
import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** The ASCII paths of `normalize`, `normalizeLower` and `pyLower` against
  * the code-point loops they fall back to (`normalizeCp`, `pyLowerCp`), which
  * `PyTextSpec` pins to CPython. Inputs: the generator's pages, raw and
  * extracted, for all three tools; every Python whitespace code point in
  * every position; the case-mapping corners; and the ASCII/non-ASCII
  * boundary.
  *
  * Likewise the in-place scan of `countOccurrences` / `containsOccurrence`
  * against the code-point-array path (`countOccurrencesCp`), on generator
  * pages with their rules' identifiers and on strings built from the fold
  * corners. */
class PyTextFastPathSpec extends AnyFunSuite {

  private def assertAgrees(s: String): Unit = {
    val hex = s.take(40).map(_.toInt.toHexString).mkString(" ")
    val n = PyText.normalizeCp(s)
    assert(PyText.normalize(s) == n, s"normalize, input=$hex")
    assert(PyText.normalizeLower(s) == ((n, PyText.pyLowerCp(n))), s"normalizeLower, input=$hex")
    assert(PyText.pyLower(s) == PyText.pyLowerCp(s), s"pyLower, input=$hex")
  }

  private val pyWs: Vector[Int] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/py_whitespace.tsv"), "UTF-8")
    try src.getLines().map(l => Integer.parseInt(l.split('\t')(0), 16)).toVector
    finally src.close()
  }

  test("generator pages, raw and extracted, for all three tools") {
    val tools = scala.collection.mutable.Set.empty[String]
    var pages = 0
    for (seed <- Seq(42L, 7L); ci <- 0L until 150L; t <- SyntheticTranscripts.turnsFor(seed, ci)) {
      tools += t.tool
      assertAgrees(t.text)
      assertAgrees(Extractor.safeExtract(t.tool, t.text)._1.text)
      pages += 1
    }
    assert(tools == Set("html", "pdf", ""), s"tools seen: $tools")
    assert(pages > 1000)
  }

  test("every Python whitespace code point: leading, trailing and in runs") {
    Seq(0x0b, 0x0c, 0x1c, 0x1d, 0x1e, 0x1f, 0x85, 0xa0, 0x2028, 0x3000)
      .foreach(cp => assert(pyWs.contains(cp), f"U+$cp%04X missing from py_whitespace.tsv"))
    val all = pyWs.map(cp => new String(Character.toChars(cp))).mkString
    for (cp <- pyWs) {
      val w = new String(Character.toChars(cp))
      Seq(w, w * 3, s"${w}Ab", s"aB$w", s"a${w}B", s"${w}a${w}${w}B$w",
        s"A $w b", s"A$w c", s" ${w}x", s"x$w ", s"x$w$w${w}y", s"$all$w Q$w$all")
        .foreach(assertAgrees)
    }
  }

  test("final sigma, U+0130, supplementary planes and lone surrogates") {
    val deseret = new String(Character.toChars(0x10400)) // lowers to U+10428
    val emoji = new String(Character.toChars(0x1F600))
    Seq("\u03a3", "\u039f\u0394\u039f\u03a3", "\u039f\u0394\u039f\u03a3 REPORT",
      "A\u03a3A", "A\u03a3\u0301", "a\u0301\u03a3.", " \u03a3 ", "\u0130", "A\u0130B",
      "\u0130stanbul  CLOSE", s"$deseret  $deseret", s"X$emoji Y", "\ud800", "A\udc00B",
      "\ud800\ud800 Z", "\u212a ELVIN", "\u00df  \u00c0")
      .foreach(assertAgrees)
  }

  test("the ASCII/non-ASCII boundary and the empty string") {
    Seq("", " ", "\u00a0Hello  World", "Hello  World\u00a0", "\u00c0BC  d", "abc \u00c9",
      "\u0080", "\u007f  A", "plain ASCII page with one\u00a0NBSP in the middle")
      .foreach(assertAgrees)
  }

  test("seeded random strings over all of ASCII and a few non-ASCII chars") {
    val rng = new scala.util.Random(11L)
    val extra = Array("\u00a0", "\u0130", "\u03a3", "\u212a", "\u2028", "\u3000")
    for (_ <- 1 to 3000) {
      val sb = new StringBuilder
      for (_ <- 0 until rng.nextInt(24))
        rng.nextInt(12) match {
          case 0 => sb.append(extra(rng.nextInt(extra.length)))
          case 1 | 2 | 3 => sb.append(" \t\n\u000b\u000c\r\u001c\u001d\u001e\u001f".charAt(rng.nextInt(10)))
          case _ => sb.append(rng.nextInt(128).toChar)
        }
      assertAgrees(sb.toString)
    }
  }

  test("an unchanged ASCII page comes back as the input itself") {
    val page = "Invoice 42 total due"
    assert(PyText.normalize(page) eq page)
    val (n, l) = PyText.normalizeLower("invoice 42")
    assert((n eq l) && n == "invoice 42")
    val lower = "invoice 42"
    assert(PyText.pyLower(lower) eq lower)
    val (n2, l2) = PyText.normalizeLower(page)
    assert((n2 eq page) && l2 == "invoice 42 total due")
  }

  private def assertSameCount(page: String, id: String): Unit = {
    val want = PyText.countOccurrencesCp(page, id)
    def hex(x: String) = x.take(40).map(_.toInt.toHexString).mkString(" ")
    val at = s"page=${hex(page)} id=${hex(id)}"
    assert(PyText.countOccurrences(page, id) == want, s"countOccurrences, $at")
    assert(PyText.countOccurrences(page, new PyText.Folded(id)) == want, s"folded, $at")
    assert(PyText.containsOccurrence(page, id) == (want > 0), s"containsOccurrence, $at")
  }

  test("occurrence counts: generator pages against their rules' identifiers") {
    var hits = 0
    for (seed <- Seq(42L, 7L); ci <- 0L until 80L) {
      val pages = SyntheticTranscripts.turnsFor(seed, ci).sortBy(_.turn_idx)
        .map(t => PyText.normalize(Extractor.safeExtract(t.tool, t.text)._1.text))
      val ids = SyntheticTranscripts.rulesFor(seed, ci).map(Pipeline.toCoreRule)
        .flatMap(r => Seq(r.startingIdentifier, r.startingIdentifierPlus1,
          r.endingIdentifier, r.endingIdentifierMinus1))
        .flatMap(_.split('|')).map(PyText.normalize).filter(_.nonEmpty)
      for (page <- pages; id <- ids) {
        assertSameCount(page, id)
        if (PyText.countOccurrencesCp(page, id) > 0) hits += 1
      }
      // a window of each page, upper-cased: a hit on every page
      for (page <- pages if page.length > 8) {
        val w = page.substring(page.length / 3, page.length / 3 + 6)
        assertSameCount(page, w.toUpperCase(java.util.Locale.ROOT))
      }
    }
    assert(hits > 50, s"only $hits identifier hits: the corpus must exercise matches")
  }

  test("occurrence counts: Kelvin sign, long s, U+0130, sigma forms and surrogates") {
    val kelvin = "\u212a"
    val longS = "\u017f"
    val deseret = new String(Character.toChars(0x10400)) // folds to U+10428
    val deseretLower = new String(Character.toChars(0x10428))
    val parts = Array("k", "K", kelvin, "s", "S", longS, "\u0130", "i", "I", "\u0131",
      "\u03a3", "\u03c3", "\u03c2", "\ud800", "\udc00", deseret, deseretLower,
      "\ud83d\ude00", " ", "a")
    for (id <- parts; page <- Seq("", id, s"$id$id$id", s"a${id}b$kelvin$longS", s"\ud800$id\udc00"))
      assertSameCount(page, id)
    assert(PyText.countOccurrences(s"kK$kelvin", "k") == 3)
    assert(PyText.countOccurrences(s"s$longS", "S") == 2)
    assert(PyText.countOccurrences(s"$deseret$deseretLower", deseretLower) == 2)
    val rng = new scala.util.Random(23L)
    def build(max: Int) = (0 until rng.nextInt(max)).map(_ => parts(rng.nextInt(parts.length))).mkString
    for (_ <- 1 to 4000) assertSameCount(build(16), build(4))
  }
}
