package graft.model

/** Core data model for the web-text extraction engine.
  *
  * Shapes mirror the reference's result types re-expressed as Spark-friendly
  * product types (nested case classes -> StructType/ArrayType columns):
  *   - `Page` is the input row, schema fixed by BASELINE.json#input_hint.
  *   - `Block` ~ reference `Detection`/`LayoutElement`
  *     (/root/reference/src/domain/tasks/text_detection.rs:14-27,
  *      /root/reference/src/domain/structure.rs:601-619): one candidate text
  *     block discovered by the DOM builder, with boilerpipe-style scores.
  *   - `Span` ~ reference `TextRegion` word/char boxes
  *     (/root/reference/src/oarocr/result.rs:17-42): byte offsets into the
  *     RAW html of each extracted run, aligned to its block.
  *   - `ExtractedPage` ~ reference `OAROCRResult`/`StructureResult`
  *     (/root/reference/src/oarocr/result.rs:147-163).
  *
  * All fields are primitives / Strings / Arrays so the Catalyst encoders stay
  * Arrow-friendly and Tungsten-packable; no opaque JVM objects cross a stage
  * boundary.
  */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String, // empty on input; output column per input_hint
    lang: String
)

/** One candidate text block ("detection") from the DOM walk.
  *
  * @param idx         document-order index (depth-first), stable through shuffles
  * @param tag         lower-cased element name that opened the block
  * @param kind        semantic class: title|paragraph|list_item|table_cell|
  *                    table|pdf_fragment|other
  * @param level       title level 1..6 when kind==title else 0
  * @param chars       visible characters after whitespace collapse
  * @param anchorChars visible characters inside <a> descendants
  * @param textDensity chars per 80-char line-equivalent (boilerpipe-style)
  * @param linkDensity anchorChars / chars (0 when chars==0)
  * @param keep        classifier verdict (content vs boilerplate)
  */
final case class Block(
    idx: Int,
    tag: String,
    kind: String,
    level: Int,
    chars: Int,
    anchorChars: Int,
    textDensity: Double,
    linkDensity: Double,
    keep: Boolean,
    text: String
)

/** One extracted run, offsets into the RAW html bytes (coordinate-space
  * discipline per reference /root/reference/src/oarocr/result.rs:130-145:
  * everything is mapped back to the original input space).
  */
final case class Span(
    blockIdx: Int,
    beginByte: Long,
    endByte: Long,
    kind: String
)

final case class ExtractedPage(
    url: String,
    warc_ts: java.sql.Timestamp,
    lang: String,
    text: String,
    spans: Array[Span],
    nBlocks: Int,
    nKept: Int,
    htmlBytes: Long,
    isPdf: Boolean,
    error: String, // "" = ok; graceful degradation, never fail the task
    /** Pipeline charset decision. For ASCII-transparent charsets span byte
      * offsets index the WIRE bytes; a value of the form "utf-16le->utf-8"
      * marks a transcoded page whose span offsets index the normalized UTF-8
      * stream instead (see Charset.normalize for the wire-offset recovery
      * rule). "pdf" for PDF payloads (spans index the raw PDF bytes, or —
      * span kind suffix `_dec` — the page's decoded content streams).
      * "" only on error rows. */
    charset: String
)
