package perfbench

import graft.Extractor
import graft.assemble.Assembler
import graft.fixtures.FixtureGen
import graft.html.{BlockBuilder, Charset}
import graft.model.Page
import graft.pdf.{PdfParser, RealPdf}
import graft.score.Classifier
import perfbench.Main.Metric

/** One-thread replay of the extraction kernel, stage by stage, through the
  * public stage functions in `Extractor.extract`'s order: charset sniff and
  * normalize, `BlockBuilder.build`, `Classifier.classify`,
  * `Assembler.render`, `Assembler.spans`; for PDF rows the parse (dialect or
  * `RealPdf.parse`) and `PdfParser.renderPage`. Every row's staged text and
  * span count must equal `Extractor.extract`'s, so the split measures the
  * same program; a row that differs is counted as a mismatch. */
object Replay {

  private final class Acc {
    var charsetNs, blockNs, classifyNs, renderNs, spansNs = 0L
    var htmlRows, blocks, kept = 0L
    var dialectNs, realParseNs, pdfRenderNs = 0L
    var dialectRows, realRows = 0L
  }

  final case class Out(rows: Long, mismatches: Long, metrics: Seq[Metric])

  /** Staged text and span count of one row, or ("", 0) where extract would
    * produce an error row. */
  private def staged(p: Page, a: Acc): (String, Int) = {
    val raw = if (p.html == null) Array.emptyByteArray else p.html
    try {
      if (PdfParser.isPdf(raw)) {
        if (raw.length > Extractor.MaxPdfBytes) return ("", 0)
        val real = RealPdf.isReal(raw)
        val t0 = System.nanoTime()
        val pages = if (real) RealPdf.parse(raw) else PdfParser.parsePayload(raw)
        val t1 = System.nanoTime()
        val rendered = pages.map(PdfParser.renderPage)
        val t2 = System.nanoTime()
        if (real) { a.realParseNs += t1 - t0; a.realRows += 1 }
        else { a.dialectNs += t1 - t0; a.dialectRows += 1 }
        a.pdfRenderNs += t2 - t1
        (rendered.map(_._1).mkString(PdfParser.PageBreak), rendered.map(_._2.length).sum)
      } else {
        val clamped =
          if (raw.length > Extractor.MaxHtmlBytes) java.util.Arrays.copyOf(raw, Extractor.MaxHtmlBytes)
          else raw
        val t0 = System.nanoTime()
        val (buf, cs) = Charset.normalize(clamped, Charset.sniff(clamped))
        val t1 = System.nanoTime()
        val raws = BlockBuilder.build(buf, cs)
        val t2 = System.nanoTime()
        val blocks = Classifier.classify(raws)
        val t3 = System.nanoTime()
        val text = Assembler.render(blocks)
        val t4 = System.nanoTime()
        val spans = Assembler.spans(raws, blocks)
        val t5 = System.nanoTime()
        a.charsetNs += t1 - t0; a.blockNs += t2 - t1; a.classifyNs += t3 - t2
        a.renderNs += t4 - t3; a.spansNs += t5 - t4
        a.htmlRows += 1; a.blocks += blocks.length; a.kept += blocks.count(_.keep)
        (text, spans.length)
      }
    } catch { case _: Exception => ("", 0) }
  }

  private def rowClass(p: Page): String =
    if (p.html == null || !PdfParser.isPdf(p.html)) "html"
    else if (RealPdf.isReal(p.html)) "real_pdf"
    else "dialect_pdf"

  val Classes = Seq("html", "dialect_pdf", "real_pdf")

  def run(ids: Seq[Long]): Out = {
    val pages = ids.map(i => FixtureGen.fixture(i).page)
    // warm-up pass over the same rows, then the measured pass
    pages.foreach { p => staged(p, new Acc); Extractor.extract(p) }
    val a = new Acc
    val perRow = Classes.map(_ -> collection.mutable.ArrayBuffer.empty[Double]).toMap
    var mismatches = 0L
    for (p <- pages) {
      val (text, nSpans) = staged(p, a)
      val t0 = System.nanoTime()
      val x = Extractor.extract(p)
      perRow(rowClass(p)) += (System.nanoTime() - t0) / 1e3
      if (x.text != text || x.spans.length != nSpans) mismatches += 1
    }
    def us(ns: Long, rows: Long): Double = if (rows == 0) 0.0 else ns / 1e3 / rows
    val stages = Seq(
      Metric("html.charset.us_per_page", us(a.charsetNs, a.htmlRows), "us"),
      Metric("html.blockbuilder.us_per_page", us(a.blockNs, a.htmlRows), "us"),
      Metric("html.blocks_per_page", if (a.htmlRows == 0) 0.0 else a.blocks.toDouble / a.htmlRows, "count"),
      Metric("score.classify.us_per_page", us(a.classifyNs, a.htmlRows), "us"),
      Metric("score.kept_frac", if (a.blocks == 0) 0.0 else a.kept.toDouble / a.blocks, "ratio"),
      Metric("assemble.render.us_per_page", us(a.renderNs, a.htmlRows), "us"),
      Metric("assemble.spans.us_per_page", us(a.spansNs, a.htmlRows), "us"),
      Metric("pdf.dialect.us_per_page", us(a.dialectNs, a.dialectRows), "us"),
      Metric("pdf.real.parse.us_per_page", us(a.realParseNs, a.realRows), "us"),
      Metric("pdf.render.us_per_page", us(a.pdfRenderNs, a.dialectRows + a.realRows), "us"))
    // the tail is the highest of p99/p90 with at least ten samples beyond it
    // in a standard-mix corpus: HTML rows number thousands, each PDF class
    // about one row in fifty
    val tails = Classes.zip(Seq(0.99, 0.90, 0.90)).flatMap { case (c, q) =>
      val xs = perRow(c).toSeq
      Seq(
        Metric(s"kernel.$c.us_p50", if (xs.isEmpty) 0.0 else Main.quantile(xs, 0.50), "us"),
        Metric(f"kernel.$c.us_p${q * 100}%.0f", if (xs.isEmpty) 0.0 else Main.quantile(xs, q), "us"),
        Metric(s"kernel.$c.samples", xs.length.toDouble, "count"))
    }
    Out(pages.length.toLong, mismatches, stages ++ tails)
  }

  /** The replay's metric names, all zero (for workloads without a kernel). */
  def zero: Seq[Metric] = run(Nil).metrics
}
