package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

import graft.core.extract.Extracted
import graft.core.html.{BoilerplateExtractor, HtmlSink, HtmlTokenizer}
import graft.core.pdf.PdfLayout
import graft.gen.SyntheticTranscripts

/** The one-pass HTML and PDF kernels against frozen copies of the kernels
  * they replaced (`graft.core.frozen`): the same `Extracted` text and spans,
  * the same blocks with their word counts, and the same tokenizer events,
  * on the generator corpus and on adversarial input. */
class ExtractorDifferentialSpec extends AnyFunSuite {

  private def kernels(tool: String, payload: String): (Extracted, Extracted) = tool match {
    case "html" => (BoilerplateExtractor.extract(payload), frozen.BoilerplateExtractor.extract(payload))
    case "pdf" => (PdfLayout.extract(payload), frozen.PdfLayout.extract(payload))
    case other => fail(s"no kernel for tool '$other'")
  }

  private def blocks(html: String): Vector[(String, Int, Int, Int, Int)] =
    BoilerplateExtractor.blocks(html).map(b => (b.text, b.numWords, b.anchorWords, b.span.start, b.span.end))

  private def frozenBlocks(html: String): Vector[(String, Int, Int, Int, Int)] =
    frozen.BoilerplateExtractor.blocks(html).map(b => (b.text, b.numWords, b.anchorWords, b.span.start, b.span.end))

  private type Event = (String, String, Int, Int)

  private def events(html: String): Vector[Event] = {
    val out = ArrayBuffer.empty[Event]
    HtmlTokenizer.tokenize(html, new HtmlSink {
      def onStartTag(n: String, sc: Boolean, s: Int, e: Int): Unit = out += ((if (sc) "self" else "start", n, s, e))
      def onEndTag(n: String, s: Int, e: Int): Unit = out += (("end", n, s, e))
      def onText(t: String, s: Int, e: Int): Unit = out += (("text", t, s, e))
    })
    out.toVector
  }

  private def frozenEvents(html: String): Vector[Event] = {
    val out = ArrayBuffer.empty[Event]
    frozen.HtmlTokenizer.tokenize(html, new frozen.HtmlSink {
      def onStartTag(n: String, sc: Boolean, s: Int, e: Int): Unit = out += ((if (sc) "self" else "start", n, s, e))
      def onEndTag(n: String, s: Int, e: Int): Unit = out += (("end", n, s, e))
      def onText(t: String, s: Int, e: Int): Unit = out += (("text", t, s, e))
    })
    out.toVector
  }

  private def same(tool: String, payload: String): Boolean = {
    val (got, want) = kernels(tool, payload)
    got == want
  }

  /** Everything the HTML path exposes agrees with the frozen one. */
  private def sameHtml(h: String): Boolean =
    same("html", h) && blocks(h) == frozenBlocks(h) && events(h) == frozenEvents(h)

  private def samePdf(p: String): Boolean = same("pdf", p)

  private def assertHtml(h: String): Unit = {
    val (got, want) = kernels("html", h)
    assert(got == want, s"extract: ${show(h)}")
    assert(blocks(h) == frozenBlocks(h), s"blocks: ${show(h)}")
    assert(events(h) == frozenEvents(h), s"events: ${show(h)}")
  }

  private def assertPdf(p: String): Unit = {
    val (got, want) = kernels("pdf", p)
    assert(got == want, s"pdf: ${show(p)}")
  }

  private def show(s: String): String =
    s.flatMap(c => if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x")

  private def check(minTests: Int)(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  test("generator corpus, seeds 1-3: every html and pdf turn extracts as before") {
    for (seed <- 1L to 3L; conv <- 0L until 400L; t <- SyntheticTranscripts.turnsFor(seed, conv)) {
      t.tool match {
        case "html" => assertHtml(t.text)
        case "pdf" => assertPdf(t.text)
        case _ => // passthrough has no kernel
      }
    }
  }

  test("entities cut by tags, at a node's end, legacy without ';', past U+10FFFF") {
    Seq(
      "<p>a&am<b>p;</b> x</p>", "<p>&#x41</p>", "<p>&#x41", "x &#65", "&amp<br>&lt<p>&gt</p>",
      "<p>&quot<i>&nbsp</i>&amp;</p>", "a&amp", "a&", "&<p>&#</p>&#x<p>&#;",
      "<p>&#x110000; &#1114112; &#x10FFFF; &#99999999999; &#xFFFFFFFFFF;</p>",
      "<p>&#0; &#xD800; &#xDFFF; &#x1F600; &#128512</p>", "&ampx; &copy &copy; &unknown; &Amp;",
      "<p>&amp;mid&#x41;</p><b>&lt</b>", "<a>&amp</a>&amp;<a>&lt;x</a>", "&abcdefghijklmnop;"
    ).foreach(assertHtml)
  }

  test("unterminated tags, comments and script") {
    Seq(
      "<p>a <div", "<div attr='x>y", "<div attr=\"x", "a <!-- never closed", "<!--", "<!-->x",
      "<script>if (a<b) x", "<script>x</scrip", "<script>x</SCRIPT", "<style>a</style",
      "<title>t</title x", "<p>x</", "</", "</3", "<!DOCTYPE html", "<?xml", "<", "a<", "<p/>b<br/>c",
      "<textarea><p>in</p></textarea>after", "<xmp><b>x</b></xmp>y", "<SCRIPT>s</script>t",
      "<embed>e</embed>f", "<a href='/x'/>g<a>h</a>"
    ).foreach(assertHtml)
  }

  test("non-Latin-1 text and lone or paired surrogates") {
    Seq(
      "<p>\u4e2d\u6587 \u03a3\u0391\u03a3 \u00df</p>", "<p>\ud83d\ude00 smile \ud83d\ude00</p>", "<p>lone \ud83d high</p>",
      "<p>lone \ude00 low</p>", "<a>\ud83d</a> <a>x\ude00y</a><p>\ud83d\ude00</p>",
      "<p>\u00e9&eacute;&#233;</p>", "<div>\ud83d</div>\ude00"
    ).foreach(assertHtml)
  }

  test("non-ASCII whitespace inside and outside <a> pins numWords and anchorWords") {
    val ws = Seq("\u00a0", "\u2003", "\u3000", "\u001c", "\u001d", "\u001e", "\u001f", "\u0085", "\u2028", " ", "\t\n")
    for (w <- ws) {
      assertHtml(s"<p>one${w}two$w${w}three</p>")
      assertHtml(s"<div><a>one${w}two</a>${w}<a>${w}three$w</a> four</div>")
      assertHtml(s"<p>${w}lead and trail$w</p><a>x&nbsp;y$w</a>")
    }
  }

  test("pdf numbers: long mantissas, signed zeros, bare dots, malformed") {
    val nums = Seq(
      "1234567890123456", "12345678901234567", "1234567890123456789", "12345678901234567890",
      "0.1234567890123456789", "123456789012345.6", "1234567890123456.7", "9007199254740993",
      "0.000000000000000000001", "0.0000000000000000000000001", "1" + "0" * 400, "0" * 30 + "7",
      "-0", "-0.0", "0", "+0", "+.5", ".5", "5.", "-.5", "1.2.3", "-", ".", "+", "-.", "720.0",
      "-250", "-180", "-179.99999999999999", "-180.00000000000001", "0.1", "0.3", "1e5", "2.675")
    for (a <- nums) {
      assertPdf(s"BT 1 0 0 1 $a 700 Tm (x) Tj 1 0 0 1 72 $a Tm (y) Tj 1 0 0 1 $a $a Tm (z) Tj ET")
      assertPdf(s"BT $a $a Td (a) Tj 0 -14 Td (b) Tj $a TL T* (c) Tj ET")
      assertPdf(s"BT [(a) $a (b)] TJ 5 $a TD (c) Tj ET")
    }
  }

  test("pdf: -0.0 as an x or y position orders as before") {
    Seq(
      "BT 1 0 0 1 5 0 Tm (a) Tj 1 0 0 1 5 -0 Tm (b) Tj 1 0 0 1 5 0.0 Tm (c) Tj 1 0 0 1 5 -0.0 Tm (d) Tj ET",
      "BT 1 0 0 1 -0 5 Tm (a) Tj 1 0 0 1 0 5 Tm (b) Tj 1 0 0 1 -0.0 5 Tm (c) Tj ET",
      "BT 0 0 Td (a) Tj -0 -0 Td (b) Tj 0 -0.0 Td (c) Tj ET",
      "BT -0 TL T* (a) Tj 0 TL T* (b) Tj ET",
      "BT 1" + "0" * 400 + " 0 Td (inf) Tj -1" + "0" * 400 + " 0 Td (nan) Tj 0 0 Td (z) Tj ET",
      "BT 0 1" + "0" * 400 + " Td (inf) Tj 0 -1" + "0" * 400 + " Td (nan) Tj 0 3 Td (z) Tj ET"
    ).foreach(assertPdf)
  }

  test("pdf: strings, escapes, hex and arrays") {
    Seq(
      "BT (a\\(b\\)c \\\\ \\101 \\7 \\777 \\q) Tj ET", "BT (line\\\ncont\\\r\nx) Tj ET", "BT (trail\\",
      "BT (nested (paren) here) Tj ET", "BT <48656c6c6f> Tj <4> Tj <zz4 1> Tj ET", "BT [<41> -300 (b) 5 <4] TJ ET",
      "BT [] TJ (after) ' (q) \" ET", "<< /A << /B >> >> BT (x) Tj ET <<", "BT % comment (no) Tj\n(yes) Tj ET",
      "BT /F1 10 Tf (a)Tj(b)Tj ET", "BT\u0000(nul)\u0000Tj ET", "BT 1 2 (a) 3 Tm Tj ET"
    ).foreach(assertPdf)
  }

  // random soups of the same fragments, for what the lists above miss
  private val htmlFragment: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(
      "<", ">", "</", "/>", "<a>", "</a>", "<a href='x'>", "<p>", "</p>", "<br>", "<br/>", "<div>",
      "</div>", "<script>", "</script>", "</SCRIPT >", "<style>", "<!--", "-->", "<!x>", "<?pi>",
      "</>", "<B>", "<Embed>", "</embed>", "<title>", "<li>", "<span>", "<x-y:z>", "=", "\"", "'"),
    3 -> Gen.oneOf(
      "&", "&amp", "&amp;", "&lt", "&#", "&#x", "&#x41", "&#65;", "&#x110000;", "&#1114112;",
      "&#99999999999;", "&#xD800;", "&#0;", "&nbsp;", "&nbsp", "&copy;", "&unknown;", "&ampx", ";"),
    2 -> Gen.oneOf(
      " ", "\n", "\t", "\u00a0", "\u2003", "\u3000", "\u001c", "\u001f", "\u0085", "\u00e9", "\u4e2d",
      "\ud83d\ude00", "\ud83d", "\ude00", "\u03a3"),
    3 -> Gen.alphaNumStr.map(_.take(8)))

  private val pdfFragment: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(
      "BT", "ET", "Td", "TD", "Tm", "T*", "TL", "Tj", "TJ", "'", "\"", "Tf", "/F1", "(", ")",
      "\\", "\\(", "\\n", "\\101", "<", ">", "<<", ">>", "<4142>", "[", "]", "%c\n", "\u0000"),
    4 -> Gen.oneOf(
      "-0", "-0.0", "0", ".5", "5.", "+.5", "1.2.3", "-", ".", "+", "12345678901234567",
      "1234567890123456789.5", "720", "-250", "-180", "1" + "0" * 30, "0.1", "-3.25"),
    3 -> Gen.const(" "),
    2 -> Gen.alphaNumStr.map(_.take(6)))

  private def soup(frag: Gen[String]): Gen[String] = Gen.listOf(frag).map(_.mkString.take(3000))

  /** Positioned runs whose coordinates come from the number fragments, so
    * the sort and the line clustering see signed zeros and long numbers. */
  private val pdfRuns: Gen[String] = {
    val num = Gen.oneOf(Gen.oneOf("-0", "-0.0", "0", "0.0", ".5", "5.", "+.5", "12345678901234567",
      "1.0000000000000002", "700", "701.9", "698", "-2"), Gen.choose(-1000, 1000).map(_.toString))
    val run = for {
      op <- Gen.oneOf("Tm", "Td", "TD")
      a <- num; b <- num; w <- Gen.alphaNumStr.map(_.take(5))
    } yield if (op == "Tm") s"1 0 0 1 $a $b Tm ($w) Tj" else s"$a $b $op ($w) Tj"
    Gen.listOf(run).map(rs => rs.mkString("BT ", "\n", " ET"))
  }

  test("random html soups: new == frozen") {
    check(2000)(Prop.forAll(soup(htmlFragment))(sameHtml))
  }

  test("random pdf soups and positioned runs: new == frozen") {
    check(2000)(Prop.forAll(soup(pdfFragment))(samePdf))
    check(1000)(Prop.forAll(pdfRuns)(samePdf))
  }
}
