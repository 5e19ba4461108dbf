package graft.core

import graft.core.extract.{Extractor, Span}
import graft.core.html.{BoilerplateExtractor, HtmlSink, HtmlTokenizer}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

class HtmlExtractSpec extends AnyFunSuite {

  private def tokens(html: String): Vector[(String, String, Int, Int)] = {
    val out = ArrayBuffer.empty[(String, String, Int, Int)]
    HtmlTokenizer.tokenize(html, new HtmlSink {
      def onStartTag(n: String, sc: Boolean, s: Int, e: Int): Unit =
        out += (((if (sc) "self" else "start"), n, s, e))
      def onEndTag(n: String, s: Int, e: Int): Unit = out += (("end", n, s, e))
      def onText(t: String, s: Int, e: Int): Unit = out += (("text", t, s, e))
    })
    out.toVector
  }

  test("tokenizer: tags, text, spans") {
    val h = "<p>Hello <b>world</b></p>"
    assert(tokens(h) == Vector(
      ("start", "p", 0, 3),
      ("text", "Hello ", 3, 9),
      ("start", "b", 9, 12),
      ("text", "world", 12, 17),
      ("end", "b", 17, 21),
      ("end", "p", 21, 25)
    ))
  }

  test("tokenizer: entities decoded, raw spans preserved") {
    val h = "<p>a &amp; b &#65; &#x42; &nbsp;&unknown; &lt</p>"
    val texts = tokens(h).filter(_._1 == "text")
    assert(texts.size == 1)
    assert(texts.head._2 == "a & b A B  &unknown; <")
    assert(texts.head._3 == 3 && texts.head._4 == h.length - 4)
  }

  test("tokenizer: malformed markup tolerated") {
    // bare '<', unterminated comment, unclosed tag, stray close
    assert(tokens("1 < 2").exists(t => t._1 == "text" && t._2 == "1 < 2"))
    assert(tokens("a <!-- never closed").collect { case ("text", t, _, _) => t } == Vector("a "))
    assert(tokens("<div attr='x>y'>z").collect { case ("text", t, _, _) => t } == Vector("z"))
    assert(tokens("</>x</3>y").collect { case ("text", t, _, _) => t } == Vector("x", "y"))
  }

  test("tokenizer: rawtext elements swallow markup") {
    val h = "<script>if (a<b) { x = '<div>'; }</script><p>ok</p>"
    val ts = tokens(h)
    assert(ts.collect { case ("text", t, _, _) => t } ==
      Vector("if (a<b) { x = '<div>'; }", "ok"))
    assert(ts.count(_._1 == "start") == 2)
  }

  test("tokenizer: a sink with only onText gets decoded text and raw spans") {
    // one text node that entities split at both edges, then a legacy
    // reference with no ';' as a whole node
    val h = "<p>&amp;mid&#x41;</p><b>&lt</b>"
    assert(tokens(h) == Vector(
      ("start", "p", 0, 3),
      ("text", "&midA", 3, 17),
      ("end", "p", 17, 21),
      ("start", "b", 21, 24),
      ("text", "<", 24, 27),
      ("end", "b", 27, 31)
    ))
  }

  test("blocks: anchor word counting and link density") {
    val h = "<div><a href='/x'>home</a> <a href='/y'>about us</a></div>" +
      "<p>real content paragraph with many plain words here</p>"
    val bs = BoilerplateExtractor.blocks(h)
    assert(bs.size == 2)
    assert(bs(0).numWords == 3 && bs(0).anchorWords == 3 && bs(0).linkDensity == 1.0)
    assert(bs(1).anchorWords == 0 && bs(1).numWords == 8)
  }

  test("extract: boilerplate nav/footer stripped, long content kept") {
    val content1 = "This is the actual article body and it deliberately " +
      "contains more than sixteen words so the classifier keeps it as content."
    val content2 = "A second long paragraph also stays because its word count " +
      "clearly exceeds the sixteen word rule threshold used by the classifier."
    val h =
      s"""<html><head><title>T</title><style>.x{color:red}</style></head>
         |<body>
         |<nav><a href="/">Home</a> <a href="/a">News</a> <a href="/b">Contact</a></nav>
         |<p>$content1</p>
         |<p>$content2</p>
         |<footer><a href="/tos">Terms</a> <a href="/priv">Privacy</a></footer>
         |</body></html>""".stripMargin
    val got = Extractor.extract("html", h)
    assert(got.text == content1 + "\n" + content2)
    // spans point back into the raw payload
    assert(got.spans.size == 2)
    got.spans.zip(Seq(content1, content2)).foreach { case (Span(s, e), c) =>
      assert(h.substring(s, e) == c)
    }
  }

  test("extract: short isolated strings are boilerplate; neighbors rescue") {
    val h = "<p>Tiny.</p>"
    assert(Extractor.extract("html", h).text == "")
    val long = "word " * 20
    val h2 = s"<p>Heading line</p><p>$long</p>"
    val got = Extractor.extract("html", h2)
    // short block kept because next block is long (numWords > 15)
    assert(got.text.startsWith("Heading line\n"))
  }

  test("extract: unclosed head does not swallow the document") {
    val long = ("lorem ipsum dolor sit amet " * 5).trim
    val h = s"<html><head><title>t</title><body><p>$long</p>"
    assert(Extractor.extract("html", h).text == long)
  }

  test("extract: whitespace normalized with python semantics") {
    val long = "alpha beta\tgamma  delta " + ("pad " * 15)
    val h = s"<p>${long}</p>"
    val got = Extractor.extract("html", h)
    assert(got.text.startsWith("alpha beta gamma delta"))
    assert(!got.text.contains("  "))
  }

  test("passthrough tool output: identity with full span") {
    val t = "tool result: 42\nraw"
    val got = Extractor.extract("", t)
    assert(got.text == t && got.spans == Vector(Span(0, t.length)))
    assert(Extractor.extract("json", t).text == t)
    assert(Extractor.extract("", "") == graft.core.extract.Extracted.empty)
  }

  test("safeExtract isolates failures") {
    val (r, err) = Extractor.safeExtract("html", null)
    assert(r.text == "" && !err)
  }

  test("decode-corrupted payloads (U+FFFD) are refused and quarantined") {
    // upstream mojibake: extraction must refuse rather than emit
    // silently-truncated text, on EVERY tool route incl. passthrough
    for (tool <- Seq("html", "pdf", "")) {
      val p = s"prefix ${Extractor.CorruptMarker} suffix"
      intercept[IllegalArgumentException](Extractor.extract(tool, p))
      val (r, err) = Extractor.safeExtract(tool, p)
      assert(r == graft.core.extract.Extracted.empty && err, tool)
    }
  }

  test("determinism: same input, same output, 100 runs") {
    val h = "<div><a>x</a><p>" + ("w " * 30) + "</p></div>"
    val first = Extractor.extract("html", h)
    (1 to 100).foreach(_ => assert(Extractor.extract("html", h) == first))
  }
}
