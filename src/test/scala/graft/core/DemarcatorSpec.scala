package graft.core

import com.fasterxml.jackson.databind.JsonNode
import graft.core.seg.{Demarcator, Rule, SegmentRow}
import graft.core.xml.SubDocXml
import org.scalatest.funsuite.AnyFunSuite

/** Field-for-field parity of the demarcation fold vs 61 golden cases produced
  * by executing the reference's demarcate_document (ocr_processor.py:439-507)
  * under python3 (tools/gen_goldens.py). Covers every branch: plus1 priority,
  * offsets, ExactMatch, occurrence thresholds, overlap invalidation,
  * demarcated-page skipping, sequence ordering, 25 randomized cases, and the
  * ACTUAL Sample2/Sample5 rule payloads planted into synthetic page sets.
  */
class DemarcatorSpec extends AnyFunSuite {
  import GoldenJson._

  private def decodeRule(n: JsonNode): Rule = Rule(
    documentTypeId = optStr(n, "DocumentTypeID"),
    documentTypeName = n.get("DocumentTypeName").asText(),
    startingIdentifier = n.get("StartingIdentifier").asText(),
    startingIdentifierPlus1 = n.get("StartingIdentifierPlus1").asText(),
    endingIdentifier = n.get("EndingIdentifier").asText(),
    endingIdentifierMinus1 = n.get("EndingIdentifierMinus1").asText(),
    noOfPages = n.get("NoOfPages").asInt(),
    occurence = n.get("Occurence").asInt(),
    startingMinusN = n.get("StartingMinusN").asText(),
    endingMinusN = n.get("EndingMinusN").asText(),
    sequence = optStr(n, "Sequence"),
    docReceivedId = optLong(n, "DocReceivedId"),
    firmFile = optStr(n, "FirmFile"),
    uploadDatasheetId = optLong(n, "UploadDatasheetid"),
    sessionId = optStr(n, "SessionId")
  )

  private def decodeExpected(n: JsonNode): SegmentRow = SegmentRow(
    DocReceivedId = optLong(n, "DocReceivedId"),
    FromPageNumber = n.get("FromPageNumber").asInt(),
    ToPageNumber = n.get("ToPageNumber").asInt(),
    FileNumber = optStr(n, "FileNumber"),
    DocumentTypeId = optStr(n, "DocumentTypeId"),
    UploadDataSheetId = optLong(n, "UploadDataSheetId"),
    TotalNumberOfpages = n.get("TotalNumberOfpages").asInt(),
    NoOfPages = n.get("NoOfPages").asInt(),
    Sequence = optStr(n, "Sequence"),
    SessionId = optStr(n, "SessionId")
  )

  private val cases = iter(load("demarcation_cases.json")).toVector

  cases.foreach { c =>
    test(s"golden demarcation: ${c.get("name").asText()}") {
      val pages = iter(c.get("pages")).map(_.asText()).toIndexedSeq
      val rules = iter(c.get("rules")).map(decodeRule).toVector
      val expected = iter(c.get("expected")).map(decodeExpected).toVector
      val got = Demarcator.demarcate(pages, rules)
      assert(got == expected)
    }
  }

  test("claimed ranges never overlap; rows well-formed (seeded sweep)") {
    val rng = new scala.util.Random(7L)
    val words = Vector("alpha", "beta", "start", "end", "cover", "report")
    for (_ <- 1 to 300) {
      val pages = IndexedSeq.fill(1 + rng.nextInt(12))(
        Seq.fill(1 + rng.nextInt(6))(words(rng.nextInt(words.size))).mkString(" "))
      val rules = (1 to 1 + rng.nextInt(5)).map { s =>
        Rule(
          documentTypeId = Some(s"DT$s"),
          startingIdentifier = if (rng.nextBoolean()) words(rng.nextInt(words.size)) else "",
          startingIdentifierPlus1 = if (rng.nextInt(4) == 0) words(rng.nextInt(words.size)) else "",
          endingIdentifier = if (rng.nextBoolean()) words(rng.nextInt(words.size)) else "",
          noOfPages = if (rng.nextInt(3) == 0) rng.nextInt(4) else 0,
          occurence = rng.nextInt(3),
          startingMinusN = Seq(" ", "", "1", "2")(rng.nextInt(4)),
          endingMinusN = Seq(" ", "0", "1")(rng.nextInt(3)),
          sequence = Some(s.toString)
        )
      }
      val rows = Demarcator.demarcate(pages, rules)
      assert(rows.size == rules.size)
      val found = rows.filter(r => r.FromPageNumber > 0 && r.ToPageNumber > 0)
      // all emitted found-ranges are valid and mutually non-overlapping
      found.foreach { r =>
        assert(r.FromPageNumber <= r.ToPageNumber)
        assert(r.NoOfPages == r.ToPageNumber - r.FromPageNumber + 1)
      }
      rows.filter(_.FromPageNumber == 0).foreach(r => assert(r.NoOfPages == 0))
      val sortedR = found.sortBy(_.FromPageNumber)
      sortedR.sliding(2).foreach {
        case Seq(a, b) => assert(a.ToPageNumber < b.FromPageNumber)
        case _ =>
      }
    }
  }

  test("XML rendering matches lxml-pretty-print golden") {
    val rows = iter(load("subdoc_xml_rows.json")).map(decodeExpected).toVector
    assert(SubDocXml.render(rows) == loadText("subdoc_xml.golden.xml"))
  }

  // ---- fidelity-boundary vectors: the two documented nubs pinned as tests,
  // not tribal knowledge ----

  test("malformed Sequence: demarcate raises like the reference's int(''); demarcateIsolated quarantines") {
    val pages = IndexedSeq("start here", "middle", "end here")
    // int("") raises ValueError in the reference (ocr_processor.py:446) —
    // one message fails, the consumer loop continues (main.py:394-402).
    // Our kernel mirrors the raise; the isolation wrapper mirrors the loop.
    for (bad <- Seq(Some(""), Some("  "), Some("not-a-number"), Some("3.5"))) {
      val rules = Seq(
        Rule(documentTypeId = Some("OK"), startingIdentifier = "start", sequence = Some("1")),
        Rule(documentTypeId = Some("BAD"), startingIdentifier = "end", sequence = bad))
      intercept[NumberFormatException](Demarcator.demarcate(pages, rules))
      val (rows, failed) = Demarcator.demarcateIsolated(pages, rules)
      assert(failed, s"decode failure not flagged for Sequence=$bad")
      assert(rows.isEmpty,
        s"quarantine must emit ZERO segments for the whole conversation (Sequence=$bad)")
    }
    // a well-formed corpus through the isolation wrapper is bit-identical
    // to the plain fold — the wrapper adds no behavior on the happy path
    val good = Seq(
      Rule(documentTypeId = Some("A"), startingIdentifier = "start", sequence = Some("1")),
      Rule(documentTypeId = Some("B"), startingIdentifier = "end", sequence = Some("2")))
    val (rows, failed) = Demarcator.demarcateIsolated(pages, good)
    assert(!failed && rows == Demarcator.demarcate(pages, good))
  }

  test("DocumentTypeID emission fidelity: absent key stays None, empty string stays Some(\"\")") {
    // the reference emits the RAW identifier.get("DocumentTypeID") — None
    // when the key is absent (ocr_processor.py:496), "" when present-but-
    // empty; the XML layer is what maps None → "" (data_models.py:22).
    // The kernel must preserve the distinction so the XML layer (and only
    // it) performs the collapse.
    val pages = IndexedSeq("start here")
    val rules = Seq(
      Rule(documentTypeId = None, startingIdentifier = "start", sequence = Some("1")),
      Rule(documentTypeId = Some(""), startingIdentifier = "start", sequence = Some("2")))
    val rows = Demarcator.demarcate(pages, rules)
    assert(rows(0).DocumentTypeId.isEmpty, "absent DocumentTypeID must emit None")
    assert(rows(1).DocumentTypeId.contains(""), "empty DocumentTypeID must stay Some(\"\")")
    // and the XML layer collapses both to the same rendered form
    assert(SubDocXml.render(rows.toVector).contains("<DocumentTypeId></DocumentTypeId>")
      || SubDocXml.render(rows.toVector).contains("<DocumentTypeId/>"))
  }

  // ---- pages are prepared only when a rule first reaches them; hand-written
  // expected rows, checked against the reference's functions under python3 ----

  private def row(dt: String, seq: String, from: Int, to: Int, total: Int): SegmentRow =
    SegmentRow(None, from, to, None, Some(dt), None, total,
      if (from > 0) to - from + 1 else 0, Some(seq), None)

  test("a rule reaches non-ASCII pages (final sigma, U+0130) after ASCII pages") {
    val pages = IndexedSeq("intro page", "Second Page", "\u039f\u0394\u039f\u03a3 report",
      "\u0130stanbul close", "tail")
    val rules = Seq(
      // "ΟΔΟΣ".lower() ends in final ς, as does the page's; "İ".lower() is "i̇"
      Rule(documentTypeId = Some("A"), startingIdentifier = "\u039f\u0394\u039f\u03a3",
        endingIdentifier = "i\u0307stanbul", sequence = Some("1")),
      // a medial σ before the space: not a substring of the page's "οδος report"
      Rule(documentTypeId = Some("B"), startingIdentifier = "\u03bf\u03b4\u03bf\u03c3 report",
        sequence = Some("2")),
      // matches page 3, which rule A has claimed
      Rule(documentTypeId = Some("C"), startingIdentifier = "\u03bf\u03b4\u03bf\u03c2 REPORT",
        sequence = Some("3")))
    assert(Demarcator.demarcate(pages, rules) ==
      Vector(row("A", "1", 3, 4, 5), row("B", "2", 0, 0, 5), row("C", "3", 0, 0, 5)))
  }

  test("a Kelvin-sign alternative counts ASCII k occurrences") {
    // "\u212aey".lower() == "key"; re.IGNORECASE folds K to k: page 1 counts
    // one, page 3 two, so occurrence 3 is reached on page 3
    val pages = IndexedSeq("a key here", "nothing", "key and KEY", "last")
    val rules = Seq(Rule(documentTypeId = Some("K"), startingIdentifier = "nope|\u212aey",
      occurence = 3, endingIdentifier = "last", sequence = Some("1")))
    assert(Demarcator.demarcate(pages, rules) == Vector(row("K", "1", 3, 4, 4)))
  }

  test("ExactMatch against a page separated by \\x1c (Python whitespace)") {
    val pages = IndexedSeq("cover", "\u001cTotal\u001c\u001cDue\u001c", "Total Due extra", "end")
    val rules = Seq(Rule(documentTypeId = Some("X"), startingIdentifier = "ExactMatch: total due",
      endingIdentifier = "ExactMatch:END", sequence = Some("1")))
    assert(Demarcator.demarcate(pages, rules) == Vector(row("X", "1", 2, 4, 4)))
  }

  test("rules that stop before a pathological last page give the same rows") {
    val ws = " \t\u3000\n\u001c"
    val huge = (ws * (1 << 20)).take(1 << 20) // 1 MB of mixed Python whitespace
    val rules = Seq(
      Rule(documentTypeId = Some("D1"), startingIdentifier = "cover sheet", noOfPages = 1,
        sequence = Some("1")),
      Rule(documentTypeId = Some("D2"), startingIdentifier = "INVOICE 7",
        endingIdentifier = "invoice END", sequence = Some("2")))
    val expected = Vector(row("D1", "1", 1, 1, 5), row("D2", "2", 2, 4, 5))
    for (last <- Seq(huge, "", "tail"))
      assert(Demarcator.demarcate(
        IndexedSeq("Cover Sheet", "Invoice 7 start", "body", "Invoice end", last), rules) == expected)
  }
}
