// Frozen copy of graft.core.html.HtmlTokenizer as it was before the one-pass
// rewrite: the oracle of ExtractorDifferentialSpec. Test-only; keep its
// code as it is.
package graft.core.frozen

/** Hand-rolled, allocation-light pushdown HTML tokenizer.
  *
  * Replaces the reference's scan-time compute (per-page Tesseract OCR,
  * the reference's `ocr_processor.py:233-239`) with a deterministic text
  * extractor for `tool='html'` payloads. Tolerant of malformed markup the way
  * real-web HTML demands: unterminated comments/tags run to EOF, bare `<`
  * is text, attribute quoting quirks are skipped over, RAWTEXT elements
  * (`script`/`style`/...) swallow markup until their real close tag.
  *
  * Emits events through a [[HtmlSink]] with **raw char-span offsets** into
  * the original payload, so downstream spans survive normalization.
  */
trait HtmlSink {
  def onStartTag(name: String, selfClosing: Boolean, start: Int, end: Int): Unit
  def onEndTag(name: String, start: Int, end: Int): Unit
  /** Decoded text (entities resolved); [start,end) is the raw span. */
  def onText(text: String, start: Int, end: Int): Unit
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

  @inline private def isAsciiAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  @inline private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Decode character references in s[from,to) appending to sb. */
  private def decodeInto(s: String, from: Int, to: Int, sb: java.lang.StringBuilder): Unit = {
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '&') {
        val res = tryEntity(s, i, to)
        if (res != null) { sb.append(res._1); i = res._2 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
  }

  /** Attempt to parse a character reference at s(i)=='&'; returns
    * (decoded, nextIndex) or null. */
  private def tryEntity(s: String, i: Int, to: Int): (String, Int) = {
    var j = i + 1
    if (j >= to) return null
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
      if (!any) return null
      if (j < to && s.charAt(j) == ';') j += 1
      val safe =
        if (cp == 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) "�"
        else new String(Character.toChars(cp))
      (safe, j)
    } else {
      var k = j
      while (k < to && k - j < 10 && (isAsciiAlpha(s.charAt(k)) || (s.charAt(k) >= '0' && s.charAt(k) <= '9'))) k += 1
      if (k == j) return null
      val name = s.substring(j, k)
      Entities.get(name) match {
        case Some(v) if k < to && s.charAt(k) == ';' => (v, k + 1)
        case Some(v) if name == "amp" || name == "lt" || name == "gt" ||
            name == "quot" || name == "nbsp" => (v, k) // legacy no-semicolon
        case _ => null
      }
    }
  }

  @inline private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (lowerAscii(c) - 'a') + 10

  /** Scan a tag name starting at i; returns (lowercased name, next index). */
  private def scanName(s: String, i0: Int): (String, Int) = {
    var i = i0
    val sb = new java.lang.StringBuilder(8)
    while (i < s.length) {
      val c = s.charAt(i)
      if (isAsciiAlpha(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':') {
        sb.append(lowerAscii(c)); i += 1
      } else return (sb.toString, i)
    }
    (sb.toString, i)
  }

  /** Skip attributes; returns (index after '>', selfClosing). Quote-aware. */
  private def skipAttrs(s: String, i0: Int): (Int, Boolean) = {
    var i = i0
    var selfClosing = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '>') return (i + 1, selfClosing)
      else if (c == '"' || c == '\'') {
        val q = c
        i += 1
        while (i < s.length && s.charAt(i) != q) i += 1
        if (i < s.length) i += 1
        selfClosing = false
      } else if (c == '/') { selfClosing = true; i += 1 }
      else { if (c != ' ' && c != '\t' && c != '\n' && c != '\r' && c != '=') selfClosing = false; i += 1 }
    }
    (i, selfClosing) // unterminated tag: runs to EOF
  }

  def tokenize(s: String, sink: HtmlSink): Unit = {
    val n = s.length
    var i = 0
    var textStart = 0

    def flushText(upTo: Int): Unit = {
      if (upTo > textStart) {
        val sb = new java.lang.StringBuilder(upTo - textStart)
        decodeInto(s, textStart, upTo, sb)
        sink.onText(sb.toString, textStart, upTo)
      }
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c != '<') i += 1
      else if (i + 1 >= n) i += 1 // trailing bare '<' is text
      else {
        val c1 = s.charAt(i + 1)
        if (isAsciiAlpha(c1)) {
          flushText(i)
          val tagStart = i
          val (name, afterName) = scanName(s, i + 1)
          val (afterTag, selfClosing) = skipAttrs(s, afterName)
          sink.onStartTag(name, selfClosing, tagStart, afterTag)
          i = afterTag
          textStart = i
          if (!selfClosing && RawText.contains(name)) {
            // consume raw text until matching </name (case-insensitive)
            val close = "</" + name
            var j = i
            var found = -1
            while (found < 0 && j <= n - close.length) {
              var k = 0
              while (k < close.length && lowerAscii(s.charAt(j + k)) == close.charAt(k)) k += 1
              if (k == close.length) found = j else j += 1
            }
            val rawEnd = if (found < 0) n else found
            if (rawEnd > i) sink.onText(s.substring(i, rawEnd), i, rawEnd)
            if (found < 0) { i = n; textStart = n }
            else {
              val (_, afterCloseName) = scanName(s, found + 2)
              val (afterClose, _) = skipAttrs(s, afterCloseName)
              sink.onEndTag(name, found, afterClose)
              i = afterClose
              textStart = i
            }
          }
        } else if (c1 == '/') {
          if (i + 2 < n && isAsciiAlpha(s.charAt(i + 2))) {
            flushText(i)
            val (name, afterName) = scanName(s, i + 2)
            val (afterTag, _) = skipAttrs(s, afterName)
            sink.onEndTag(name, i, afterTag)
            i = afterTag
            textStart = i
          } else { // "</>" or "</3" — bogus comment per spec; skip to '>'
            flushText(i)
            var j = i + 2
            while (j < n && s.charAt(j) != '>') j += 1
            i = if (j < n) j + 1 else n
            textStart = i
          }
        } else if (c1 == '!') {
          flushText(i)
          if (i + 3 < n && s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
            val end = s.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else { // <!DOCTYPE, <![CDATA[ (treated as bogus), <!...
            var j = i + 2
            while (j < n && s.charAt(j) != '>') j += 1
            i = if (j < n) j + 1 else n
          }
          textStart = i
        } else if (c1 == '?') { // processing instruction / bogus
          flushText(i)
          var j = i + 2
          while (j < n && s.charAt(j) != '>') j += 1
          i = if (j < n) j + 1 else n
          textStart = i
        } else i += 1 // bare '<' followed by junk: literal text
      }
    }
    flushText(n)
  }
}
