package graft.core.seg

import graft.core.text.PyText

/** A demarcation rule, post-decode. String fields default to "" (the
  * reference reads every field with `dict.get(..., "")`-style tolerance —
  * `/root/reference/ocr_processor.py:446-458`), envelope enrichment fields
  * (`main.py:232-236`) are optional.
  */
final case class Rule(
    // Option: the reference emits the raw `identifier.get("DocumentTypeID")`
    // — None when the key is absent (`ocr_processor.py:496`), not "" — and
    // the XML layer is what maps None → "" (`data_models.py:22`)
    documentTypeId: Option[String] = None,
    documentTypeName: String = "",
    startingIdentifier: String = "",
    startingIdentifierPlus1: String = "",
    endingIdentifier: String = "",
    endingIdentifierMinus1: String = "",
    noOfPages: Int = 0,
    occurence: Int = 0, // sic — reference field name "Occurence"
    startingMinusN: String = " ",
    endingMinusN: String = " ",
    sequence: Option[String] = None,
    // envelope enrichment
    docReceivedId: Option[Long] = None,
    firmFile: Option[String] = None,
    uploadDatasheetId: Option[Long] = None,
    sessionId: Option[String] = None
)

/** One output record per rule — field names verbatim from the reference's
  * SubDocumentRow (`ocr_processor.py:491-502`), including the inconsistent
  * capitalization (`UploadDataSheetId`, `TotalNumberOfpages`).
  */
final case class SegmentRow(
    DocReceivedId: Option[Long],
    FromPageNumber: Int,
    ToPageNumber: Int,
    FileNumber: Option[String],
    DocumentTypeId: Option[String],
    UploadDataSheetId: Option[Long],
    TotalNumberOfpages: Int,
    NoOfPages: Int,
    Sequence: Option[String],
    SessionId: Option[String]
)

/** The stateful, order-dependent demarcation fold — a faithful re-derivation
  * of `demarcate_document` / `get_first_page` / `get_last_page`
  * (`/root/reference/ocr_processor.py:319-507`), expressed over one
  * conversation's ordered turn texts ("pages", 1-based).
  *
  * Pure and strictly sequential **within** a conversation; embarrassingly
  * parallel **across** conversations — the Spark layer runs one fold per
  * `conv_id` group inside a sorted partition.
  */
object Demarcator {

  /** One pipe-alternative, pre-parsed. Alternatives are themselves normalized
    * at split time (`ocr_processor.py:336,358,396,418`); both lowered forms
    * and the sre-folded form the occurrence count searches for are taken
    * here once, not per page. */
  private final case class Alt(folded: PyText.Folded, normLower: String, isExact: Boolean,
                               cleanLower: String)

  private def splitAlts(ids: String): Array[Alt] =
    ids
      .split('|')
      .iterator
      .filter(s => PyText.pyStrip(s).nonEmpty)
      .map { s =>
        val norm = PyText.normalize(s)
        val exact = PyText.isExactMatch(norm)
        Alt(new PyText.Folded(norm), PyText.pyLower(norm), exact,
          PyText.pyLower(if (exact) PyText.cleanExactMatch(norm) else norm))
      }
      .toArray

  /** For an ExactMatch alternative `_is_page_contains_only`
    * (`ocr_processor.py:285-287`), `page.lower() == id.lower()`; otherwise
    * the substring gate `id.lower() in page.lower()`. */
  @inline private def altHits(doc: Doc, page: Int, alt: Alt): Boolean =
    if (alt.isExact) doc.normLower(page) == alt.cleanLower
    else doc.normLower(page).contains(alt.normLower)

  /** A conversation's pages, each prepared (normalized and lowered) when a
    * rule first reaches it, then memoised. Semantically identical to the
    * reference's per-rule re-normalization — `normalize_text` is pure — and
    * a page no rule reaches is never prepared. */
  final class Doc(val raw: IndexedSeq[String]) {
    val total: Int = raw.length
    private val normed = new Array[String](total)
    private val lowered = new Array[String](total)

    private def prepare(i: Int): Unit =
      if (normed(i) eq null) {
        val (n, l) = PyText.normalizeLower(raw(i))
        normed(i) = n
        lowered(i) = l
      }

    def norm(i: Int): String = { prepare(i); normed(i) }
    def normLower(i: Int): String = { prepare(i); lowered(i) }
  }

  @inline private def isDemarcated(page: Int, claimed: List[(Int, Int)]): Boolean =
    claimed.exists { case (s, e) => s <= page && page <= e }

  /** `_is_range_overlapping` (`ocr_processor.py:299-314`). */
  private def isOverlapping(from: Int, to: Int, claimed: List[(Int, Int)]): Boolean =
    if (from == 0 || to == 0) false
    else claimed.exists { case (s, e) => from <= e && to >= s }

  /** `get_first_page` (`ocr_processor.py:319-376`). Returns the 1-based page
    * (possibly out of [1,total] when plus1 offsets push past the ends — the
    * caller validates), or -1.
    */
  def findFirstPage(
      doc: Doc,
      startId: String,
      startIdPlus1: String,
      occurrence: Int,
      startOffset: Int,
      claimed: List[(Int, Int)]
  ): Int = {
    var counter = 0
    if (startIdPlus1.nonEmpty) {
      val alts = splitAlts(startIdPlus1)
      var pageNum = 0
      while (pageNum < doc.total) {
        val potential = pageNum + 1 + startOffset
        if (!isDemarcated(potential, claimed)) {
          var a = 0
          while (a < alts.length) {
            val alt = alts(a)
            if (altHits(doc, pageNum, alt))
              counter += (if (alt.isExact) 1 else PyText.countOccurrences(doc.norm(pageNum), alt.folded))
            a += 1
          }
          if (counter >= occurrence) return potential
        }
        pageNum += 1
      }
    } else if (startId.nonEmpty) {
      val alts = splitAlts(startId)
      var pageNum = 0
      while (pageNum < doc.total) {
        if (!isDemarcated(pageNum + 1, claimed)) {
          var a = 0
          while (a < alts.length) {
            val alt = alts(a)
            if (altHits(doc, pageNum, alt))
              counter += (if (alt.isExact) 1 else PyText.countOccurrences(doc.norm(pageNum), alt.folded))
            a += 1
          }
          if (counter >= occurrence) return pageNum + 1
        }
        pageNum += 1
      }
    }
    -1
  }

  /** `get_last_page` (`ocr_processor.py:378-437`). Forward scan from
    * `firstPage`; Minus1 takes priority and subtracts `endOffset` with a
    * sanity check; no end identifiers ⇒ last page of the doc.
    */
  def findLastPage(
      doc: Doc,
      firstPage: Int,
      endId: String,
      endIdMinus1: String,
      endOffset: Int
  ): Int = {
    if (endIdMinus1.nonEmpty) {
      val alts = splitAlts(endIdMinus1)
      var pageNum = firstPage - 1
      while (pageNum < doc.total) {
        var a = 0
        while (a < alts.length) {
          val alt = alts(a)
          if (altHits(doc, pageNum, alt)) {
            val potential = (pageNum + 1) - endOffset
            return if (firstPage <= potential) potential else -1
          }
          a += 1
        }
        pageNum += 1
      }
      -1
    } else if (endId.nonEmpty) {
      val alts = splitAlts(endId)
      var pageNum = firstPage - 1
      while (pageNum < doc.total) {
        var a = 0
        while (a < alts.length) {
          if (altHits(doc, pageNum, alts(a))) return pageNum + 1
          a += 1
        }
        pageNum += 1
      }
      -1
    } else doc.total
  }

  /** [[demarcate]] with the reference's per-MESSAGE failure isolation
    * (`main.py:394-402`): a rule whose `Sequence` fails integer decode —
    * the reference's `int(...)` raises on `""` or any non-integer value,
    * `ocr_processor.py:446`, failing that ONE message while the consumer
    * loop continues — quarantines the conversation: zero segments, the
    * failure surfaced as the returned flag so the caller can count it in
    * lineage and log the conv_id. ANY NumberFormatException out of the
    * fold is isolated — not just the Sequence sort but the offset decodes
    * (StartingMinusN / EndingMinusN, `ocr_processor.py:331,398`) too —
    * because the reference's consumer catches per-message exceptions
    * BROADLY (`main.py:394-402`): every stringly-int rule field that makes
    * `int(...)` raise fails exactly one message there, so the faithful
    * quarantine boundary is the conversation, not one specific field.
    * Exceptions of any other class still propagate as engine bugs. At
    * 10^12 turns one corrupt rule row must cost one conversation, not the
    * job. */
  def demarcateIsolated(
      pages: IndexedSeq[String], rules: Seq[Rule]): (Vector[SegmentRow], Boolean) =
    try (demarcate(pages, rules), false)
    catch { case _: NumberFormatException => (Vector.empty[SegmentRow], true) }

  /** `demarcate_document` (`ocr_processor.py:439-507`): sort rules by
    * `int(Sequence)` (stable; missing ⇒ 999), fold claiming non-overlapping
    * ranges, always emit one row per rule (zeroed when not found / invalid /
    * overlapping). A malformed `Sequence` (empty or non-integer) throws
    * NumberFormatException from the sort — the exact analog of the
    * reference's `int("")` ValueError; callers that must survive corrupt
    * rules use [[demarcateIsolated]].
    */
  def demarcate(pages: IndexedSeq[String], rules: Seq[Rule]): Vector[SegmentRow] = {
    val doc = new Doc(pages)
    var claimed: List[(Int, Int)] = Nil
    val out = Vector.newBuilder[SegmentRow]

    val sorted = rules.sortBy(r => r.sequence.map(_.trim.toInt).getOrElse(999))
    for (r <- sorted) {
      val startId = PyText.pyStrip(r.startingIdentifier)
      val plus1 = PyText.pyStrip(r.startingIdentifierPlus1)
      val endId = PyText.pyStrip(r.endingIdentifier)
      val minus1 = PyText.pyStrip(r.endingIdentifierMinus1)
      val occurrence = if (r.occurence == 0) 1 else r.occurence
      val startOffset = PyText.parseIntish(r.startingMinusN)
      val endOffset = PyText.parseIntish(r.endingMinusN)

      var fromPage = 0
      var toPage = 0
      val firstPage =
        if (startId.isEmpty && plus1.isEmpty) 1
        else findFirstPage(doc, startId, plus1, occurrence, startOffset, claimed)

      if (firstPage > 0) {
        fromPage = firstPage
        toPage =
          if (r.noOfPages > 0) math.min(fromPage + r.noOfPages - 1, doc.total)
          else findLastPage(doc, fromPage, endId, minus1, endOffset)

        if (toPage > 0 && toPage >= fromPage) {
          if (!isOverlapping(fromPage, toPage, claimed))
            claimed = claimed :+ ((fromPage, toPage))
          else { fromPage = 0; toPage = 0 }
        } else { fromPage = 0; toPage = 0 }
      }

      out += SegmentRow(
        DocReceivedId = r.docReceivedId,
        FromPageNumber = fromPage,
        ToPageNumber = toPage,
        FileNumber = r.firmFile,
        DocumentTypeId = r.documentTypeId,
        UploadDataSheetId = r.uploadDatasheetId,
        TotalNumberOfpages = doc.total,
        NoOfPages = if (fromPage > 0 && toPage > 0) toPage - fromPage + 1 else 0,
        Sequence = r.sequence,
        SessionId = r.sessionId
      )
    }
    out.result()
  }
}
