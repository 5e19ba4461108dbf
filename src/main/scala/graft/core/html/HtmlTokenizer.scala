package graft.core.html

/** Hand-rolled, allocation-light pushdown HTML tokenizer.
  *
  * Replaces the reference's scan-time compute (per-page Tesseract OCR,
  * `/root/reference/ocr_processor.py:233-239`) with a deterministic text
  * extractor for `tool='html'` payloads. Tolerant of malformed markup the way
  * real-web HTML demands: unterminated comments/tags run to EOF, bare `<`
  * is text, attribute quoting quirks are skipped over, RAWTEXT elements
  * (`script`/`style`/...) swallow markup until their real close tag.
  *
  * Emits events through a [[HtmlSink]] with **raw char-span offsets** into
  * the original payload, so downstream spans survive normalization.
  *
  * One pass per payload: text between tags is found with `indexOf('<')` and
  * handed to the sink as a range of the payload ([[HtmlSink.onTextRange]]),
  * so a sink with its own buffer decodes it straight into that buffer
  * ([[HtmlTokenizer.decodeInto]] appends each run between `&`s in bulk and
  * writes each reference's replacement in place). `&`s are found with
  * `indexOf` too, once per payload, and a range without one is passed as
  * plain text, to be appended whole. Tag names of HTML elements come back
  * as shared interned strings, so naming a tag allocates nothing.
  */
trait HtmlSink {
  def onStartTag(name: String, selfClosing: Boolean, start: Int, end: Int): Unit
  def onEndTag(name: String, start: Int, end: Int): Unit
  /** Decoded text (entities resolved); [start,end) is the raw span. */
  def onText(text: String, start: Int, end: Int): Unit
  /** The text node `s[start,end)`, with character references still in it
    * when `decode`; otherwise the range is the node's text as is (no `&` in
    * it, or inside a RAWTEXT element). The default resolves references into
    * a `String` for [[onText]]; a sink that keeps its own buffer overrides
    * this to decode into it with [[HtmlTokenizer.decodeInto]]. */
  def onTextRange(s: String, start: Int, end: Int, decode: Boolean): Unit = {
    val text =
      if (!decode) s.substring(start, end)
      else {
        val sb = new java.lang.StringBuilder(end - start)
        HtmlTokenizer.decodeInto(s, start, end, sb)
        sb.toString
      }
    onText(text, start, end)
  }
}

object HtmlTokenizer {

  /** Elements whose content is raw text until the matching close tag. */
  private val RawText = Set("script", "style", "textarea", "title", "xmp")

  /** Minimal HTML named-entity table (common web subset; unknown entities
    * pass through literally, as browsers render unknown references). */
  private val Entities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
    "raquo" -> "»", "middot" -> "·", "bull" -> "•",
    "dagger" -> "†", "sect" -> "§", "para" -> "¶",
    "deg" -> "°", "plusmn" -> "±", "times" -> "×",
    "divide" -> "÷", "frac12" -> "½", "frac14" -> "¼",
    "sup2" -> "²", "sup3" -> "³", "micro" -> "µ",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥",
    "cent" -> "¢", "szlig" -> "ß", "eacute" -> "é",
    "egrave" -> "è", "agrave" -> "à", "ccedil" -> "ç",
    "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä",
    "aring" -> "å", "oslash" -> "ø", "ntilde" -> "ñ",
    "shy" -> "­", "ensp" -> " ", "emsp" -> " ",
    "thinsp" -> " ", "zwnj" -> "‌", "zwj" -> "‍"
  )

  /** HTML element names, returned interned by [[scanName]]. */
  private val KnownTags: Array[String] = Array(
    "a", "abbr", "address", "applet", "area", "article", "aside", "audio",
    "b", "base", "bdi", "bdo", "big", "blockquote", "body", "br", "button",
    "canvas", "caption", "center", "cite", "code", "col", "colgroup", "data",
    "datalist", "dd", "del", "details", "dfn", "dialog", "div", "dl", "dt",
    "em", "embed", "fieldset", "figcaption", "figure", "font", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup",
    "hr", "html", "i", "iframe", "img", "input", "ins", "kbd", "label",
    "legend", "li", "link", "main", "map", "mark", "math", "menu", "meta",
    "meter", "nav", "noscript", "object", "ol", "optgroup", "option",
    "output", "p", "param", "picture", "pre", "progress", "q", "rp", "rt",
    "ruby", "s", "samp", "script", "section", "select", "slot", "small",
    "source", "span", "strike", "strong", "style", "sub", "summary", "sup",
    "svg", "table", "tbody", "td", "template", "textarea", "tfoot", "th",
    "thead", "time", "title", "tr", "track", "tt", "u", "ul", "var", "video",
    "wbr", "xmp"
  )

  /** Open-addressed by `String.hashCode`, which [[scanName]] computes over
    * the lowered chars as it scans them. */
  private val TagTable: Array[String] = {
    val t = new Array[String](512)
    KnownTags.foreach { name =>
      var k = name.hashCode & (t.length - 1)
      while (t(k) != null) k = (k + 1) & (t.length - 1)
      t(k) = name
    }
    t
  }

  @inline private def isAsciiAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  @inline private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  @inline private def isNameChar(c: Char): Boolean =
    isAsciiAlpha(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  /** Decode character references in s[from,to) appending to sb: each run
    * between `&`s is appended in one call. */
  private[html] def decodeInto(s: String, from: Int, to: Int, sb: java.lang.StringBuilder): Unit = {
    var run = from
    var i = from
    while (i < to) {
      if (s.charAt(i) != '&') i += 1
      else {
        sb.append(s, run, i)
        val next = appendEntity(s, i, to, sb)
        if (next < 0) { sb.append('&'); i += 1 }
        else i = next
        run = i
      }
    }
    sb.append(s, run, to)
  }

  /** Attempt to parse a character reference at s(i)=='&'; appends its
    * replacement to sb and returns the index after it, or -1 (nothing
    * appended) when there is none. */
  private def appendEntity(s: String, i: Int, to: Int, sb: java.lang.StringBuilder): Int = {
    var j = i + 1
    if (j >= to) return -1
    if (s.charAt(j) == '#') {
      j += 1
      var cp = 0
      var any = false
      if (j < to && (s.charAt(j) == 'x' || s.charAt(j) == 'X')) {
        j += 1
        while (j < to && isHex(s.charAt(j)) && cp <= 0x10FFFF) {
          cp = cp * 16 + hexVal(s.charAt(j)); any = true; j += 1
        }
      } else {
        while (j < to && s.charAt(j) >= '0' && s.charAt(j) <= '9' && cp <= 0x10FFFF) {
          cp = cp * 10 + (s.charAt(j) - '0'); any = true; j += 1
        }
      }
      if (!any) return -1
      if (j < to && s.charAt(j) == ';') j += 1
      if (cp == 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) sb.append('\uFFFD')
      else sb.appendCodePoint(cp)
      j
    } else {
      var k = j
      while (k < to && k - j < 10 && (isAsciiAlpha(s.charAt(k)) || (s.charAt(k) >= '0' && s.charAt(k) <= '9'))) k += 1
      if (k == j) return -1
      val name = s.substring(j, k)
      Entities.get(name) match {
        case Some(v) if k < to && s.charAt(k) == ';' => sb.append(v); k + 1
        case Some(v) if name == "amp" || name == "lt" || name == "gt" ||
            name == "quot" || name == "nbsp" => sb.append(v); k // legacy no-semicolon
        case _ => -1
      }
    }
  }

  @inline private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (lowerAscii(c) - 'a') + 10

  /** One payload's scan state: the position after the last name or tag
    * scanned, and whether that tag closed with `/`. */
  private final class Scan(s: String, sink: HtmlSink) {
    private val n = s.length
    private var i = 0
    private var textStart = 0
    private var selfClosing = false
    /** The first '&' at or after the last text range asked about (n if
      * none): ranges only move forward, so each char is searched once. */
    private var amp = -1

    /** Whether s[from,to) holds a '&', i.e. may hold a reference. */
    private def hasAmp(from: Int, to: Int): Boolean = {
      if (amp < from) {
        amp = s.indexOf('&', from)
        if (amp < 0) amp = n
      }
      amp < to
    }

    private def flushText(upTo: Int): Unit =
      if (upTo > textStart) sink.onTextRange(s, textStart, upTo, decode = hasAmp(textStart, upTo))

    /** Scan a tag name starting at i0 into `i`; returns it lowercased, the
      * interned string for an HTML element name. */
    private def scanName(i0: Int): String = {
      var j = i0
      var h = 0
      var upper = false
      while (j < n && isNameChar(s.charAt(j))) {
        val c = s.charAt(j)
        upper |= c >= 'A' && c <= 'Z'
        h = 31 * h + lowerAscii(c)
        j += 1
      }
      i = j
      val len = j - i0
      var k = h & (TagTable.length - 1)
      while (TagTable(k) != null) {
        val t = TagTable(k)
        if (t.length == len) {
          var m = 0
          while (m < len && lowerAscii(s.charAt(i0 + m)) == t.charAt(m)) m += 1
          if (m == len) return t
        }
        k = (k + 1) & (TagTable.length - 1)
      }
      val raw = s.substring(i0, j)
      if (upper) raw.toLowerCase(java.util.Locale.ROOT) else raw
    }

    /** Skip attributes from `i` to after '>' (or EOF: an unterminated tag
      * runs to the end) and set `selfClosing`. Quote-aware. */
    private def skipAttrs(): Unit = {
      selfClosing = false
      while (i < n) {
        val c = s.charAt(i)
        if (c == '>') { i += 1; return }
        else if (c == '"' || c == '\'') {
          i += 1
          while (i < n && s.charAt(i) != c) i += 1
          if (i < n) i += 1
          selfClosing = false
        } else if (c == '/') { selfClosing = true; i += 1 }
        else { if (c != ' ' && c != '\t' && c != '\n' && c != '\r' && c != '=') selfClosing = false; i += 1 }
      }
    }

    /** Skip a bogus comment from `from` to after the next '>' (or EOF). */
    private def skipToGt(from: Int): Unit = {
      val gt = s.indexOf('>', from)
      i = if (gt < 0) n else gt + 1
    }

    /** Start of the first `</name` at or after `from`, ASCII case-insensitive
      * on the name; -1 if none. */
    private def findClose(name: String, from: Int): Int = {
      val len = name.length + 2
      var j = s.indexOf('<', from)
      while (j >= 0 && j <= n - len) {
        if (s.charAt(j + 1) == '/') {
          var k = 0
          while (k < name.length && lowerAscii(s.charAt(j + 2 + k)) == name.charAt(k)) k += 1
          if (k == name.length) return j
        }
        j = s.indexOf('<', j + 1)
      }
      -1
    }

    def run(): Unit = {
      while (i < n) {
        val lt = s.indexOf('<', i)
        if (lt < 0 || lt + 1 >= n) i = n // no tag left; a trailing bare '<' is text
        else {
          val c1 = s.charAt(lt + 1)
          if (isAsciiAlpha(c1)) {
            flushText(lt)
            val name = scanName(lt + 1)
            skipAttrs()
            sink.onStartTag(name, selfClosing, lt, i)
            textStart = i
            if (!selfClosing && RawText.contains(name)) {
              // consume raw text until matching </name (case-insensitive)
              val found = findClose(name, i)
              val rawEnd = if (found < 0) n else found
              if (rawEnd > i) sink.onTextRange(s, i, rawEnd, decode = false)
              if (found < 0) i = n
              else {
                scanName(found + 2)
                skipAttrs()
                sink.onEndTag(name, found, i)
              }
              textStart = i
            }
          } else if (c1 == '/') {
            flushText(lt)
            if (lt + 2 < n && isAsciiAlpha(s.charAt(lt + 2))) {
              val name = scanName(lt + 2)
              skipAttrs()
              sink.onEndTag(name, lt, i)
            } else skipToGt(lt + 2) // "</>" or "</3" — bogus comment per spec
            textStart = i
          } else if (c1 == '!') {
            flushText(lt)
            if (lt + 3 < n && s.charAt(lt + 2) == '-' && s.charAt(lt + 3) == '-') {
              val end = s.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else skipToGt(lt + 2) // <!DOCTYPE, <![CDATA[ (treated as bogus), <!...
            textStart = i
          } else if (c1 == '?') { // processing instruction / bogus
            flushText(lt)
            skipToGt(lt + 2)
            textStart = i
          } else i = lt + 1 // bare '<' followed by junk: literal text
        }
      }
      flushText(n)
    }
  }

  def tokenize(s: String, sink: HtmlSink): Unit = new Scan(s, sink).run()
}
