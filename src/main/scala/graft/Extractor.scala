package graft

import graft.model.{Block, ExtractedPage, Page, Span}
import graft.html.{BlockBuilder, Charset}
import graft.html.BlockBuilder.RawBlock
import graft.score.Classifier
import graft.assemble.Assembler
import graft.pdf.PdfParser

/** Per-row extraction: the whole reference pipeline trace
  * (/root/reference/src/oarocr/structure.rs:2271-2468) as ONE pure function
  * of the page row — preprocess (charset) → detect (tokenize/blocks) →
  * score → recognize (text materialization) → stitch (render + spans).
  * Called from a single mapPartitions; nothing materializes between stages
  * (per-row locality is what makes linear scaling possible).
  *
  * Graceful degradation per the reference
  * (/root/reference/src/oarocr/ocr.rs:510-523): any per-row failure yields an
  * error row, never a task failure.
  */
object Extractor {

  /** Input-size guard, the analogue of the reference's max-side clamp
    * (/root/reference/src/core/constants.rs:17, 4000px): bytes beyond the cap
    * are ignored. For ASCII-transparent charsets spans still index the
    * original (clamped) wire bytes; UTF-16 pages are transcoded first and
    * their spans index the normalized UTF-8 stream — the per-row `charset`
    * column records which contract applies (see ExtractedPage.charset). */
  val MaxHtmlBytes: Int = 16 * 1024 * 1024

  /** Work cap for `%PDF`-sniffed payloads. Unlike HTML — byte-prefix-stable,
    * so clamping keeps a valid prefix — a PDF's page tree and xref live at
    * the END of the file: truncating would silently drop or REORDER pages
    * (orphan fallback is stream-order). An oversize PDF therefore becomes an
    * ERROR row (never silently-partial text), and parse cost is bounded
    * together with RealPdf.MaxResyncs. 4× the HTML cap: real crawled PDFs
    * (scanned/image-heavy) are routinely 20–50 MB where 16 MB of HTML is
    * already pathological, and RealPdf's scan cost is linear + resync-capped,
    * so the larger cap buys coverage without an adversarial-cost cliff. */
  val MaxPdfBytes: Int = 4 * MaxHtmlBytes

  /** The front half every surface shares, run on a non-PDF payload: the
    * MaxHtmlBytes clamp, charset sniff + normalize, BlockBuilder.build and
    * classify. UTF-16 pages (BOM or parity-confirmed) are transcoded to
    * UTF-8; for those pages span offsets index the normalized stream (the
    * recorded charset decision makes wire offsets recoverable — see
    * Charset.normalize). `charset` is the decision label surfaced on
    * ExtractedPage.charset: the wire charset name lower-cased, with
    * "->utf-8" appended when the page was transcoded. */
  private final case class Analysis(raws: Vector[RawBlock], blocks: Vector[Block], charset: String)

  private def analyze(raw: Array[Byte]): Analysis = {
    val clamped =
      if (raw.length > MaxHtmlBytes) java.util.Arrays.copyOf(raw, MaxHtmlBytes)
      else raw
    val dec = Charset.sniff(clamped)
    val (html, cs) = Charset.normalize(clamped, dec)
    val label =
      if (!(html eq clamped)) s"${dec.charset.name().toLowerCase}->utf-8"
      else if (cs eq dec.charset) cs.name().toLowerCase
      // declared UTF-16 failed the parity confirmation: bytes pass through
      else s"utf-8(mislabeled:${dec.charset.name().toLowerCase})"
    val raws = BlockBuilder.build(html, cs)
    Analysis(raws, Classifier.classify(raws), label)
  }

  private def payload(p: Page): Array[Byte] =
    if (p.html == null) Array.emptyByteArray else p.html

  def extract(p: Page): ExtractedPage = {
    val raw = payload(p)
    try {
      if (PdfParser.isPdf(raw)) {
        if (raw.length > MaxPdfBytes)
          throw new graft.pdf.RealPdf.PdfParseException(
            s"PDF payload ${raw.length} bytes exceeds MaxPdfBytes=$MaxPdfBytes")
        val (text, spans) = PdfParser.extract(raw)
        // charset="pdf" keeps the offset-contract column total: PDF span
        // offsets index the raw PDF bytes (or decoded streams, kind `_dec`)
        ExtractedPage(p.url, p.warc_ts, p.lang, text, spans,
          nBlocks = spans.length, nKept = spans.length,
          htmlBytes = raw.length.toLong, isPdf = true, error = "", charset = "pdf")
      } else {
        val a = analyze(raw)
        val text = Assembler.render(a.blocks)
        val spans = Assembler.spans(a.raws, a.blocks)
        ExtractedPage(p.url, p.warc_ts, p.lang, text, spans,
          nBlocks = a.blocks.length, nKept = a.blocks.count(_.keep),
          htmlBytes = raw.length.toLong, isPdf = false, error = "",
          charset = a.charset)
      }
    } catch {
      case e: Throwable =>
        // isPdf reflects the SNIFF, not success: a failed 70MB PDF is still
        // a PDF row — hardcoding false would attribute every PDF failure to
        // the HTML pipeline in any isPdf-grouped error accounting
        ExtractedPage(p.url, p.warc_ts, p.lang, "", Array.empty[Span],
          nBlocks = 0, nKept = 0, htmlBytes = raw.length.toLong,
          isPdf = PdfParser.isPdf(raw), charset = "",
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  /** The debug surfaces below run the same `analyze` as extract(), so they
    * describe what production EMITS (clamped bytes included); `none` on PDF
    * rows and on any failure. */
  private def debugSurface[A](p: Page, none: A)(f: Analysis => A): A = {
    val raw = payload(p)
    try { if (PdfParser.isPdf(raw)) none else f(analyze(raw)) }
    catch { case _: Throwable => none }
  }

  /** Debug surface: classified blocks of a non-PDF page (empty for PDFs /
    * failures). Used by the driver-facing x03/x06 inventory queries. */
  def debugBlocks(p: Page): Vector[Block] = debugSurface(p, Vector.empty[Block])(_.blocks)

  /** Alternate output renders (semantic HTML + JSON with span coordinates)
    * for a non-PDF page — the reference's to_html / to_json surfaces. */
  def renders(p: Page): Option[(String, String)] =
    debugSurface(p, Option.empty[(String, String)]) { a =>
      Some((Assembler.renderHtml(a.blocks),
        Assembler.renderJson(a.blocks, Assembler.spans(a.raws, a.blocks))))
    }

  /** Debug surface: captured data tables as (blockIdx, nCells, canonicalHtml). */
  def debugTables(p: Page): Vector[(Int, Int, String)] =
    debugSurface(p, Vector.empty[(Int, Int, String)]) {
      _.raws.zipWithIndex.collect {
        case (b, i) if b.kind == "table" => (i, b.cellRuns.length, b.text)
      }
    }
}
