// Frozen copy of graft.core.html.BoilerplateExtractor as it was before the one-pass
// rewrite: the oracle of ExtractorDifferentialSpec. Test-only; keep its
// code as it is.
package graft.core.frozen

import graft.core.extract.{Extracted, Span}
import graft.core.text.PyText

/** Main-content extraction: tag-tree text blocks scored with shallow text
  * features (word count, link density) and classified by the published
  * Boilerpipe `NumWordsRulesClassifier` decision rules (Kohlschütter et al.,
  * "Boilerplate Detection using Shallow Text Features", WSDM 2010).
  *
  * Deterministic spec (frozen; the oracle for per-turn text equality):
  *  - Blocks are maximal text runs between block-level tag boundaries.
  *  - Block text = entity-decoded text nodes concatenated in document order,
  *    then whitespace-normalized with the CPython-parity collapse
  *    ([[PyText.normalize]]), so downstream demarcation sees identical bytes.
  *  - Words = normalized text split on spaces; anchor words = words arriving
  *    while inside an `<a>` element.
  *  - Content blocks are joined with a single '\n'; each carries the raw
  *    char-span of its first..last text node.
  */
object BoilerplateExtractor {

  /** Tags whose text never reaches the page (no catastrophic containers like
    * `head` here: an unclosed `<head>` must not swallow the document). */
  private val Ignored = Set(
    "script", "style", "noscript", "template", "iframe", "svg", "math",
    "object", "embed", "applet", "option", "select", "datalist", "title",
    "textarea", "xmp"
  )

  /** Void elements: never push nesting state. */
  private val Void = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr"
  )

  /** Opening OR closing one of these flushes the current block. */
  private val BlockLevel = Set(
    "html", "body", "address", "article", "aside", "blockquote", "canvas",
    "caption", "center", "dd", "details", "div", "dl", "dt", "fieldset",
    "figcaption", "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "head", "header", "hr", "li", "main", "nav", "ol", "p", "pre",
    "section", "summary", "table", "tbody", "td", "tfoot", "th", "thead",
    "tr", "ul", "video", "br"
  )

  final case class Block(
      text: String, // normalized
      numWords: Int,
      anchorWords: Int,
      span: Span
  ) {
    def linkDensity: Double =
      if (numWords == 0) 0.0 else math.min(1.0, anchorWords.toDouble / numWords)
  }

  private final class BlockBuilder extends HtmlSink {
    val blocks = Vector.newBuilder[Block]
    private val sb = new java.lang.StringBuilder(256)
    private var anchorDepth = 0
    private var ignoreDepth = 0
    private var rawStart = -1
    private var rawEnd = -1
    private var anchorWords = 0

    private def countWords(s: String): Int = {
      var i = 0; var inWord = false; var words = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        if (PyText.isPyWs(cp)) inWord = false
        else if (!inWord) { inWord = true; words += 1 }
        i += Character.charCount(cp)
      }
      words
    }

    def flush(): Unit = {
      if (sb.length > 0) {
        val norm = PyText.normalize(sb.toString)
        if (norm.nonEmpty)
          blocks += Block(norm, countWords(norm), anchorWords, Span(rawStart, rawEnd))
      }
      sb.setLength(0)
      rawStart = -1
      rawEnd = -1
      anchorWords = 0
    }

    override def onStartTag(name: String, selfClosing: Boolean, start: Int, end: Int): Unit = {
      if (BlockLevel.contains(name)) flush()
      if (!selfClosing && !Void.contains(name)) {
        if (name == "a") anchorDepth += 1
        if (Ignored.contains(name)) ignoreDepth += 1
      }
    }

    override def onEndTag(name: String, start: Int, end: Int): Unit = {
      if (BlockLevel.contains(name)) flush()
      if (name == "a" && anchorDepth > 0) anchorDepth -= 1
      if (Ignored.contains(name) && ignoreDepth > 0) ignoreDepth -= 1
    }

    override def onText(text: String, start: Int, end: Int): Unit = {
      if (ignoreDepth == 0) {
        val before = sb.length
        sb.append(text)
        if (sb.length > before) {
          if (rawStart < 0) rawStart = start
          rawEnd = end
          if (anchorDepth > 0) anchorWords += countWords(text)
        }
      }
    }

    def result(): Vector[Block] = { flush(); blocks.result() }
  }

  /** Segment raw HTML into scored text blocks (exposed for tests/metrics). */
  def blocks(html: String): Vector[Block] = {
    val b = new BlockBuilder
    HtmlTokenizer.tokenize(html, b)
    b.result()
  }

  /** Boilerpipe NumWordsRulesClassifier (verbatim decision thresholds). */
  def isContent(prev: Block, curr: Block, next: Block): Boolean = {
    if (curr.linkDensity > 0.333333) false
    else if (prev.linkDensity <= 0.555556) {
      if (curr.numWords <= 16) {
        if (next.numWords <= 15) prev.numWords > 4
        else true
      } else true
    } else {
      if (curr.numWords <= 40) next.numWords > 17
      else true
    }
  }

  private val Empty = Block("", 0, 0, Span(0, 0))

  def extract(html: String): Extracted = {
    val bs = blocks(html)
    if (bs.isEmpty) return Extracted.empty
    val kept = Vector.newBuilder[Block]
    var i = 0
    while (i < bs.length) {
      val prev = if (i == 0) Empty else bs(i - 1)
      val next = if (i == bs.length - 1) Empty else bs(i + 1)
      if (isContent(prev, bs(i), next)) kept += bs(i)
      i += 1
    }
    val ks = kept.result()
    Extracted(ks.iterator.map(_.text).mkString("\n"), ks.map(_.span))
  }
}
