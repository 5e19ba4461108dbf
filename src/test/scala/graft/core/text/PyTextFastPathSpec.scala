package graft.core.text

import graft.core.extract.Extractor
import graft.gen.SyntheticTranscripts
import org.scalatest.funsuite.AnyFunSuite

/** The ASCII paths of `normalize`, `normalizeLower` and `pyLower` against
  * the code-point loops they fall back to (`normalizeCp`, `pyLowerCp`), which
  * `PyTextSpec` pins to CPython. Inputs: the generator's pages, raw and
  * extracted, for all three tools; every Python whitespace code point in
  * every position; the case-mapping corners; and the ASCII/non-ASCII
  * boundary. */
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
}
