// Frozen copy of graft.core.pdf.PdfLayout as it was before the one-pass
// rewrite: the oracle of ExtractorDifferentialSpec. Test-only; keep its
// code as it is.
package graft.core.frozen

import graft.core.extract.{Extracted, Span}

/** PDF content-stream layout parser for `tool='pdf'` payloads.
  *
  * The payload is a PDF page *text stream dump* — the `BT ... ET` operator
  * soup a PDF text extractor sees (string-show operators positioned by text
  * matrices, in arbitrary emission order). This parser rebuilds reading
  * order the way layout-aware extractors do:
  *
  *   1. Tokenize the stream: numbers, `(...)` literal strings (with escapes),
  *      `<...>` hex strings, `[...]` arrays, `/Name`, operators.
  *   2. Interpret the text-positioning state machine: `BT/ET`, `Td`, `TD`,
  *      `Tm`, `T*`, `TL`, and the show operators `Tj`, `'`, `"`, `TJ`
  *      (negative kerning ≤ −180/1000 em renders as a word space).
  *   3. Cluster shown runs into lines by y-coordinate (tolerance 2.0 units),
  *      sort lines top-to-bottom (descending y — PDF origin is bottom-left)
  *      and runs left-to-right within a line; stable ties by input order.
  *
  * Output: lines joined with '\n'; one raw char-span per shown string.
  * Deterministic; malformed streams degrade gracefully (unbalanced parens
  * run to EOF, unknown operators are ignored).
  */
object PdfLayout {

  private final case class Run(x: Double, y: Double, text: String,
                               spanStart: Int, spanEnd: Int, seq: Int)

  // ---- content-stream tokenizer ----
  private final class Lexer(s: String) {
    var i = 0
    def eof: Boolean = i >= s.length

    def skipWs(): Unit = {
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == '\u0000') i += 1
        else if (c == '%') { while (i < s.length && s.charAt(i) != '\n') i += 1 }
        else return
      }
    }

    /** Parse a literal string starting at '('; returns (decoded, endIndex). */
    def literalString(): (String, Int) = {
      val sb = new java.lang.StringBuilder(32)
      var depth = 1
      i += 1
      while (i < s.length && depth > 0) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          val e = s.charAt(i + 1)
          e match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '\n' => i += 2 // line continuation
            case '\r' =>
              i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; i += 1
              while (k < 3 && i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
              }
              sb.append((v & 0xFF).toChar)
            case other => sb.append(other); i += 2
          }
        } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
        else if (c == ')') {
          depth -= 1
          if (depth > 0) sb.append(c)
          i += 1
        } else { sb.append(c); i += 1 }
      }
      (sb.toString, i)
    }

    /** Parse a hex string starting at '<'; returns (decoded, endIndex). */
    def hexString(): (String, Int) = {
      i += 1
      val sb = new java.lang.StringBuilder(16)
      var hi = -1
      var done = false
      while (i < s.length && !done) {
        val c = s.charAt(i)
        if (c == '>') { done = true; i += 1 }
        else {
          val v =
            if (c >= '0' && c <= '9') c - '0'
            else if (c >= 'a' && c <= 'f') c - 'a' + 10
            else if (c >= 'A' && c <= 'F') c - 'A' + 10
            else -1
          if (v >= 0) {
            if (hi < 0) hi = v
            else { sb.append(((hi << 4) | v).toChar); hi = -1 }
          }
          i += 1
        }
      }
      if (hi >= 0) sb.append((hi << 4).toChar) // odd digit: padded with 0
      (sb.toString, i)
    }

    def number(): Double = {
      val st = i
      if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      while (i < s.length && ((s.charAt(i) >= '0' && s.charAt(i) <= '9') || s.charAt(i) == '.')) i += 1
      try s.substring(st, i).toDouble
      catch { case _: NumberFormatException => 0.0 }
    }

    def bareword(): String = {
      val st = i
      while (i < s.length && !isDelim(s.charAt(i))) i += 1
      s.substring(st, i)
    }

    private def isDelim(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' ||
        c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '/' || c == '%' || c == '\u0000'
  }

  private val LineTolerance = 2.0
  /** TJ kerning (thousandths of em, negative = widen) at/below which a word
    * space is emitted — matches common extractor heuristics. */
  private val SpaceKern = -180.0

  def extract(stream: String): Extracted = {
    val lx = new Lexer(stream)
    val runs = Vector.newBuilder[Run]
    var seq = 0

    // text state
    var x = 0.0; var y = 0.0 // current text position
    var lineX = 0.0; var lineY = 0.0 // start-of-line (Td base)
    var leading = 0.0
    // operand stack (numbers and strings with spans)
    val nums = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pendingStr: String = null
    var pendingStart = 0
    var pendingEnd = 0
    // accumulated TJ-array content
    var inArray = false
    val arrSb = new java.lang.StringBuilder(64)
    var arrStart = -1
    var arrEnd = -1

    def emit(text: String, s0: Int, s1: Int): Unit = {
      if (text.nonEmpty) {
        runs += Run(x, y, text, s0, s1, seq)
        seq += 1
      }
    }

    def clearOperands(): Unit = { nums.clear(); pendingStr = null }

    while (!lx.eof) {
      lx.skipWs()
      if (!lx.eof) {
        val c = stream.charAt(lx.i)
        if (c == '(') {
          val st = lx.i
          val (txt, _) = lx.literalString()
          if (inArray) {
            if (arrStart < 0) arrStart = st
            arrEnd = lx.i
            arrSb.append(txt)
          } else { pendingStr = txt; pendingStart = st; pendingEnd = lx.i }
        } else if (c == '<' && lx.i + 1 < stream.length && stream.charAt(lx.i + 1) != '<') {
          val st = lx.i
          val (txt, _) = lx.hexString()
          if (inArray) {
            if (arrStart < 0) arrStart = st
            arrEnd = lx.i
            arrSb.append(txt)
          } else { pendingStr = txt; pendingStart = st; pendingEnd = lx.i }
        } else if (c == '<') { // dict <<...>> — skip balanced, tolerate EOF
          var depth = 0
          var done = false
          while (lx.i < stream.length && !done) {
            if (stream.startsWith("<<", lx.i)) { depth += 1; lx.i += 2 }
            else if (stream.startsWith(">>", lx.i)) {
              depth -= 1; lx.i += 2
              if (depth <= 0) done = true
            } else lx.i += 1
          }
        } else if (c == '[') { inArray = true; arrSb.setLength(0); arrStart = -1; arrEnd = -1; lx.i += 1 }
        else if (c == ']') {
          lx.i += 1
          // array contents become the operand of the next TJ
          if (arrSb.length > 0) { pendingStr = arrSb.toString; pendingStart = arrStart; pendingEnd = arrEnd }
          inArray = false
        } else if (c == '/') { lx.i += 1; lx.bareword(); () } // name: ignored (font)
        else if ((c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.') {
          val v = lx.number()
          if (inArray) { if (v <= SpaceKern) arrSb.append(' ') }
          else nums += v
        } else {
          val op = lx.bareword()
          if (op.isEmpty) lx.i += 1
          else op match {
            case "BT" => x = 0; y = 0; lineX = 0; lineY = 0; leading = 0; clearOperands()
            case "ET" => clearOperands()
            case "Td" =>
              if (nums.length >= 2) { lineX += nums(nums.length - 2); lineY += nums.last; x = lineX; y = lineY }
              clearOperands()
            case "TD" =>
              if (nums.length >= 2) {
                leading = -nums.last
                lineX += nums(nums.length - 2); lineY += nums.last; x = lineX; y = lineY
              }
              clearOperands()
            case "Tm" =>
              if (nums.length >= 6) { lineX = nums(nums.length - 2); lineY = nums.last; x = lineX; y = lineY }
              clearOperands()
            case "T*" =>
              lineY -= leading; x = lineX; y = lineY; clearOperands()
            case "TL" =>
              if (nums.nonEmpty) leading = nums.last
              clearOperands()
            case "Tj" | "TJ" =>
              if (pendingStr != null) emit(pendingStr, pendingStart, pendingEnd)
              clearOperands()
            case "'" =>
              lineY -= leading; x = lineX; y = lineY
              if (pendingStr != null) emit(pendingStr, pendingStart, pendingEnd)
              clearOperands()
            case "\"" =>
              lineY -= leading; x = lineX; y = lineY
              if (pendingStr != null) emit(pendingStr, pendingStart, pendingEnd)
              clearOperands()
            case _ => clearOperands() // Tf, Tc, Tw, gs, re, W, n, cm, q, Q, ...
          }
        }
      }
    }

    assemble(runs.result())
  }

  /** y-cluster runs into lines, order top-to-bottom then left-to-right. */
  private def assemble(runs: Vector[Run]): Extracted = {
    if (runs.isEmpty) return Extracted.empty
    // sort by y desc (stable on seq for ties)
    val byY = runs.sortBy(r => (-r.y, r.seq))
    val lines = Vector.newBuilder[Vector[Run]]
    var current = Vector.newBuilder[Run]
    var lineY = byY.head.y
    byY.foreach { r =>
      if (math.abs(r.y - lineY) <= LineTolerance) current += r
      else {
        lines += current.result()
        current = Vector.newBuilder[Run]
        current += r
        lineY = r.y
      }
    }
    lines += current.result()

    val sb = new java.lang.StringBuilder(256)
    val spans = Vector.newBuilder[Span]
    var firstLine = true
    lines.result().foreach { ln =>
      val ordered = ln.sortBy(r => (r.x, r.seq))
      if (!firstLine) sb.append('\n')
      firstLine = false
      var firstRun = true
      ordered.foreach { r =>
        if (!firstRun && sb.length > 0 && sb.charAt(sb.length - 1) != ' ' &&
            !r.text.startsWith(" ")) sb.append(' ')
        firstRun = false
        sb.append(r.text)
        spans += Span(r.spanStart, r.spanEnd)
      }
    }
    Extracted(sb.toString, spans.result())
  }
}
