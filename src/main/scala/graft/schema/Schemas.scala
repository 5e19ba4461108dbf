package graft.schema

import java.sql.Timestamp

/** The 10^12-row fact table (`BASELINE.json` `input_hint`, exact schema):
  * one row per conversation turn; `turn_idx` is the 1-based ordering key —
  * the analog of the reference's PDF page number
  * (`/root/reference/ocr_processor.py:247,262`).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** Post-extraction turn: cleaned main-content text + char-span offsets into
  * the raw payload (north star: "cleaned main-content text and character-span
  * offsets per turn"). `error` mirrors the reference's per-page failure
  * isolation (`ocr_processor.py:237-239`: failed page ⇒ "").
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    text: String,
    span_starts: Array[Int],
    span_ends: Array[Int],
    error: Boolean,
    part_id: Int
)

/** One demarcation rule bound to a conversation — the Spark-side row form of
  * `graft.core.seg.Rule`; field names verbatim from the reference payload
  * corpus (`/root/reference/test/payload/Input_Sample1.json:12-25`).
  */
final case class ConvRule(
    conv_id: String,
    DocumentTypeID: String,
    DocumentTypeName: String,
    StartingIdentifier: String,
    StartingIdentifierPlus1: String,
    EndingIdentifier: String,
    EndingIdentifierMinus1: String,
    NoOfPages: Int,
    Occurence: Int,
    StartingMinusN: String,
    EndingMinusN: String,
    Sequence: String,
    DocReceivedId: Long,
    FirmFile: String,
    UploadDatasheetid: Long,
    SessionId: String
)

/** Flat output segment row (reference SubDocumentRow field names preserved —
  * `ocr_processor.py:491-502` — plus the conversation key).
  */
final case class ConvSegment(
    conv_id: String,
    DocReceivedId: Long,
    FromPageNumber: Int,
    ToPageNumber: Int,
    FileNumber: String,
    DocumentTypeId: String,
    UploadDataSheetId: Long,
    TotalNumberOfpages: Int,
    NoOfPages: Int,
    Sequence: String,
    SessionId: String
)

object ConvSegment {
  /** The fold's output mapping: one core demarcation row of conversation
    * `cid`, absent optional fields as 0 / "". */
  def of(cid: String, r: graft.core.seg.SegmentRow): ConvSegment =
    ConvSegment(cid, r.DocReceivedId.getOrElse(0L), r.FromPageNumber, r.ToPageNumber,
      r.FileNumber.getOrElse(""), r.DocumentTypeId.getOrElse(""),
      r.UploadDataSheetId.getOrElse(0L), r.TotalNumberOfpages, r.NoOfPages,
      r.Sequence.getOrElse(""), r.SessionId.getOrElse(""))
}

/** Per-partition lineage/metrics row (north rule: "per-partition lineage +
  * metrics": partition id, input snapshot, rows in/out, extraction error
  * counts).
  */
final case class PartitionLineage(
    stage: String,
    part_id: Int,
    snapshot_id: Long,
    rows_in: Long,
    rows_out: Long,
    errors: Long
)
