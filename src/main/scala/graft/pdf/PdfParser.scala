package graft.pdf

import graft.geom.{Box, Cells, Geom, LayoutSort}
import graft.assemble.{JoinRules, TitleLevel}
import graft.html.TableGrid
import graft.model.Span

/** Embedded-PDF payload branch: magic-byte sniff + columnar page-segmentation
  * parse, the analogue of the reference's PDF render path
  * (/root/reference/src/bin/server/pdf.rs:69-152, sniff :167-169) feeding the
  * layout pipeline: region grouping, enhanced reading-order sort
  * (/root/reference/src/processors/layout_sorting.rs:125-471), table cell
  * reconciliation (/root/reference/src/processors/layout_utils.rs:255-534),
  * and the smart-join soft-wrap rule
  * (/root/reference/src/oarocr/stitching.rs:603-697).
  *
  * Two payload kinds reach the branch, and both become the positioned
  * element boxes (`PdfPage`) the layout branch consumes. A real
  * `%PDF-1.x` file goes to [[RealPdf]] (object scan, content-stream text
  * objects, fonts and encodings). The deterministic synthetic dialect
  * (FIXTURES.md §2) carries the boxes directly and is parsed here:
  *
  * {{{
  * %PDF-GRAFT 2\n
  * P <w> <h>\n                  -- page start
  * T <x> <y> <w> <h> <text>\n   -- body text box (text = rest of line)
  * H <x> <y> <w> <h> <text>\n   -- page header box  -> <small>text</small>
  * F <x> <y> <w> <h> <text>\n   -- page footer box  -> <small>text</small>
  * L <x> <y> <w> <h> <lvl> <text>\n -- title box    -> "#"*lvl + " " + text
  * G <x> <y> <w> <h> <caption>\n -- figure box      -> ![Figure](caption)
  * M <x> <y> <w> <h> <latex>\n  -- formula box      -> $$normalized latex$$
  * R <x> <y> <w> <h> <rows> <cols>\n -- table region (T boxes inside belong to it)
  * C <x> <y> <w> <h>\n          -- structure cell of the last R
  * D <x> <y> <w> <h>\n          -- detected cell of the last R
  * E\n                          -- page end
  * }}}
  *
  * `extract` dispatches on the header (`RealPdf.isReal`), then renders every
  * page through the same ordering, table assembly, byte-offset spans and
  * page-break join.
  */
object PdfParser {

  /** `decoded` marks byte offsets in DECODED-stream space (real-PDF runs
    * from compressed content streams — see RealPdf's span contract); false
    * means raw-input byte offsets. Surfaced as span kind suffix `_dec`. */
  final case class TextBox(box: Box, text: String, beginByte: Long, endByte: Long,
      decoded: Boolean = false)
  final case class TitleBox(level: Int, tb: TextBox)
  final case class TableSpec(box: Box, rows: Int, cols: Int,
      structCells: Vector[Box], detCells: Vector[Box])
  final case class PdfPage(width: Double, height: Double,
      boxes: Vector[TextBox],
      headers: Vector[TextBox], footers: Vector[TextBox],
      titles: Vector[TitleBox], figures: Vector[TextBox],
      tables: Vector[TableSpec],
      formulas: Vector[TextBox] = Vector.empty)

  /** Typed page element for ordering/rendering — a Sortable's payload indexes
    * ONE unified element vector of these, so element identity is carried as a
    * tag, never as a magic index range an adversarial page could alias. */
  private sealed trait PageEl
  private final case class RegionEl(boxes: Vector[TextBox]) extends PageEl
  private final case class TitleEl(t: TitleBox) extends PageEl
  private final case class FigureEl(f: TextBox) extends PageEl
  private final case class FormulaEl(f: TextBox) extends PageEl
  private final case class TableEl(idx: Int) extends PageEl
  private final case class HeaderEl(h: TextBox) extends PageEl
  private final case class FooterEl(f: TextBox) extends PageEl

  /** `normalize_latex` analogue (/root/reference/src/processors/mod.rs:43):
    * whitespace runs collapse to one space, ends trimmed — formula sources
    * carry layout newlines/indentation that must not leak into `$$..$$`. */
  def normalizeLatex(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingWs = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) pendingWs = sb.length() > 0
      else {
        if (pendingWs) { sb.append(' '); pendingWs = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Matches the reference's page-join in multi-page responses
    * (/root/reference/src/bin/server/ocr.rs:190-240). */
  val PageBreak = "\n\n--- Page Break ---\n\n"

  /** same-visual-line center-y tolerance (stitching.rs same_line_y_tolerance) */
  val SameLineYTol = 10.0
  /** hard paragraph break when the previous line ends this fraction of the
    * container width from the right edge (stitching.rs:655-662) */
  val HardBreakGapFrac = 0.3
  /** column split: x-interval gap threshold (projection-profile gap) */
  val ColGapMin = 1.0
  /** text-region split within a column: y-interval gap threshold — a gap this
    * large means another element (figure, title, table) sits between */
  val RegionGapMin = 20.0

  def isPdf(html: Array[Byte]): Boolean =
    html.length >= 4 && html(0) == '%' && html(1) == 'P' &&
      html(2) == 'D' && html(3) == 'F'

  /** Parse the synthetic dialect tracking byte offsets of each box's text. */
  def parsePayload(bytes: Array[Byte]): Vector[PdfPage] = {
    val pages = Vector.newBuilder[PdfPage]
    var boxes = Vector.newBuilder[TextBox]
    var headers = Vector.newBuilder[TextBox]
    var footers = Vector.newBuilder[TextBox]
    var titles = Vector.newBuilder[TitleBox]
    var figures = Vector.newBuilder[TextBox]
    var formulas = Vector.newBuilder[TextBox]
    var tables = Vector.newBuilder[TableSpec]
    // in-progress table: cells accumulate in O(1) builders and the spec is
    // appended at flush (the rebuild-the-Vector-per-cell-line version was
    // O(cells x tables) copying on attacker-sized payloads)
    var curTable: TableSpec = null
    var curStruct = Vector.newBuilder[Box]
    var curDet = Vector.newBuilder[Box]
    var pw = 0.0; var ph = 0.0; var inPage = false
    val n = bytes.length
    var i = 0
    def lineEnd(from: Int): Int = {
      var j = from
      while (j < n && bytes(j) != '\n') j += 1
      j
    }
    def flushTable(): Unit = if (curTable != null) {
      tables += curTable.copy(structCells = curStruct.result(), detCells = curDet.result())
      curTable = null; curStruct = Vector.newBuilder; curDet = Vector.newBuilder
    }
    def flushPage(): Unit = {
      flushTable()
      pages += PdfPage(pw, ph, boxes.result(), headers.result(), footers.result(),
        titles.result(), figures.result(), tables.result(), formulas.result())
      boxes = Vector.newBuilder; headers = Vector.newBuilder; footers = Vector.newBuilder
      titles = Vector.newBuilder; figures = Vector.newBuilder; tables = Vector.newBuilder
      formulas = Vector.newBuilder
    }
    // parse `k` doubles starting at p; returns (values, posAfter) or null
    def parseNums(from: Int, e: Int, k: Int): (Array[Double], Int) = {
      var p = from
      val nums = new Array[Double](k)
      var got = 0
      while (got < k) {
        // a number ending exactly at `e` leaves p = e+1; on the last line of
        // the payload that is one past the buffer — a truncated line simply
        // has too few numbers
        if (p > e) return null
        var q = p
        while (q < e && bytes(q) != ' ') q += 1
        val s = new String(bytes, p, q - p, java.nio.charset.StandardCharsets.US_ASCII)
        s.toDoubleOption match {
          case Some(d) => nums(got) = d; p = q + 1; got += 1
          case None    => return null
        }
      }
      (nums, p)
    }
    def textBox(from: Int, e: Int): TextBox = {
      parseNums(from, e, 4) match {
        case null => null
        case (nums, p) if p <= e =>
          val text = new String(bytes, p, e - p, java.nio.charset.StandardCharsets.UTF_8)
          TextBox(Box(nums(0), nums(1), nums(0) + nums(2), nums(1) + nums(3)), text, p.toLong, e.toLong)
        case _ => null
      }
    }
    while (i < n) {
      val e = lineEnd(i)
      if (e > i + 1 && bytes(i + 1) == ' ') {
        bytes(i) match {
          case 'P' =>
            if (inPage) flushPage()
            val parts = new String(bytes, i + 2, e - i - 2, java.nio.charset.StandardCharsets.US_ASCII).split(' ')
            pw = parts.headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
            ph = if (parts.length > 1) parts(1).toDoubleOption.getOrElse(0.0) else 0.0
            inPage = true
          case 'T' => val tb = textBox(i + 2, e); if (tb != null) boxes += tb
          case 'H' => val tb = textBox(i + 2, e); if (tb != null) headers += tb
          case 'F' => val tb = textBox(i + 2, e); if (tb != null) footers += tb
          case 'G' => val tb = textBox(i + 2, e); if (tb != null) figures += tb
          case 'M' => val tb = textBox(i + 2, e); if (tb != null) formulas += tb
          case 'L' =>
            parseNums(i + 2, e, 5) match {
              case null => ()
              case (nums, p) if p <= e =>
                val text = new String(bytes, p, e - p, java.nio.charset.StandardCharsets.UTF_8)
                val lvl = math.max(1, math.min(6, nums(4).toInt))
                titles += TitleBox(lvl,
                  TextBox(Box(nums(0), nums(1), nums(0) + nums(2), nums(1) + nums(3)), text, p.toLong, e.toLong))
              case _ => ()
            }
          case 'R' =>
            parseNums(i + 2, e, 6) match {
              case null => ()
              case (nums, _) =>
                flushTable()
                curTable = TableSpec(Box(nums(0), nums(1), nums(0) + nums(2), nums(1) + nums(3)),
                  math.max(1, nums(4).toInt), math.max(1, nums(5).toInt), Vector.empty, Vector.empty)
            }
          case 'C' | 'D' =>
            parseNums(i + 2, e, 4) match {
              case null => ()
              case (nums, _) if curTable != null =>
                val box = Box(nums(0), nums(1), nums(0) + nums(2), nums(1) + nums(3))
                if (bytes(i) == 'C') curStruct += box else curDet += box
              case _ => ()
            }
          case _ => () // header / unknown line: skip
        }
      } else if (e == i + 1 && bytes(i) == 'E') {
        // exactly the bare "E" marker line — a corrupt line that merely
        // STARTS with 'E' must be skipped like any unknown line, not split
        // the page (spurious page break + wrong block indices on every
        // later span)
        if (inPage) { flushPage(); inPage = false }
      }
      i = e + 1
    }
    if (inPage) flushPage()
    pages.result()
  }

  // ---- text-region grouping ------------------------------------------------

  /** Group body text boxes into reading-order regions: columns by x-interval
    * gap (left to right), then each column split at y-interval gaps larger
    * than RegionGapMin (top to bottom) — the projection-profile region
    * detection feeding the enhanced sort. */
  def textRegions(boxes: Vector[TextBox]): Vector[Vector[TextBox]] = {
    if (boxes.isEmpty) return Vector.empty
    def splitByGaps(bs: Vector[TextBox], xAxis: Boolean, minGap: Double): Vector[Vector[TextBox]] = {
      val sorted = bs.sortBy(b => if (xAxis) b.box.x1 else b.box.y1)
      val groups = Vector.newBuilder[Vector[TextBox]]
      var cur = Vector.newBuilder[TextBox]
      var hi = Double.NegativeInfinity
      var empty = true
      for (b <- sorted) {
        val lo = if (xAxis) b.box.x1 else b.box.y1
        val h = if (xAxis) b.box.x2 else b.box.y2
        if (empty || lo < hi + minGap) { cur += b; hi = math.max(hi, h); empty = false }
        else { groups += cur.result(); cur = Vector.newBuilder; cur += b; hi = h }
      }
      groups += cur.result()
      groups.result()
    }
    splitByGaps(boxes, xAxis = true, ColGapMin)
      .flatMap(col => splitByGaps(col, xAxis = false, RegionGapMin))
  }

  private def union(bs: Vector[TextBox]): Box =
    bs.map(_.box).reduce((a, b) => Box(math.min(a.x1, b.x1), math.min(a.y1, b.y1),
      math.max(a.x2, b.x2), math.max(a.y2, b.y2)))

  // ---- smart join (soft-wrap) ----------------------------------------------

  /** Majority strong-directionality test over a visual line's fragments —
    * the analogue of the reference's text-line orientation classifier
    * (/root/reference/src/oarocr/ocr.rs:679-719: a reversed line is detected
    * and flipped before recognition). */
  private def isRtlLine(line: Seq[TextBox]): Boolean = {
    var rtl = 0; var ltr = 0
    for (tb <- line) {
      val t = tb.text
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if ((c >= 0x0590 && c <= 0x08FF) || (c >= 0xFB1D && c <= 0xFDFF) ||
          (c >= 0xFE70 && c <= 0xFEFF)) rtl += 1
        else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) ltr += 1
        i += 1
      }
    }
    rtl > ltr
  }

  /** Spatial sort + smart join of one region's fragments — port of
    * `sort_and_join_texts` (stitching.rs:603-697): fragments group into
    * visual lines by center-y tolerance; within a line, LTR lines read left
    * to right and majority-RTL lines right to left (the text-line
    * orientation fix); between lines, a hard '\n' only when the previous
    * line's visual right edge sits more than 30% of the container width from
    * the container's right edge (paragraph break), else a soft wrap (space
    * after ASCII alphabetic, direct join otherwise — CJK/RTL join bare).
    *
    * Deviation from the reference, documented: the gap test uses the
    * previous LINE's max x2 rather than the last consumed fragment's — the
    * reference's own comment flags its version as an LTR assumption, and the
    * line edge is what the heuristic means; for LTR input the two are
    * identical (the last consumed fragment IS the rightmost).
    * Returns the joined text and the fragments in consumption order. */
  def sortAndJoin(boxes: Vector[TextBox], container: Box): (String, Vector[TextBox]) = {
    val present = boxes.filter(_.text.nonEmpty)
    if (present.isEmpty) return ("", Vector.empty)
    val byY = present.sortBy(b => (b.box.cy, b.box.cx))
    // group into visual lines by anchor tolerance
    val lines = Vector.newBuilder[Vector[TextBox]]
    var cur = Vector.newBuilder[TextBox]
    var anchor = Double.NaN
    var anchorH = 0.0
    for (tb <- byY) {
      // reference tolerance is a flat 10px (sorting.rs:35-84) — sized for
      // body text; tightly-leaded small text (8pt at 9.6pt leading:
      // footnotes, dense tables) has real lines closer than 10, which a
      // flat tolerance would merge and interleave by x. Scale the tolerance
      // down with the glyph height (same-line fragments sit within a
      // fraction of their own height), capped at the reference's 10. With
      // no usable height on either side (h=0 producers) there is nothing to
      // scale by: keep the reference's flat tolerance.
      val tol =
        if (!(anchorH > 0) && !(tb.box.h > 0)) SameLineYTol
        else math.max(0.01, math.min(SameLineYTol,
          0.8 * math.min(if (anchorH > 0) anchorH else tb.box.h, tb.box.h)))
      if (anchor.isNaN || math.abs(tb.box.cy - anchor) < tol) {
        if (anchor.isNaN) { anchor = tb.box.cy; anchorH = tb.box.h }
        cur += tb
      } else {
        lines += cur.result(); cur = Vector.newBuilder; cur += tb
        anchor = tb.box.cy; anchorH = tb.box.h
      }
    }
    lines += cur.result()
    val sb = new java.lang.StringBuilder(256)
    val used = Vector.newBuilder[TextBox]
    @inline def needsSpace(): Boolean =
      sb.length() > 0 && JoinRules.isAsciiLetter(sb.charAt(sb.length() - 1))
    var prevLineRight = Double.NaN
    for (line <- lines.result()) {
      val ordered =
        if (isRtlLine(line)) line.sortBy(tb => -tb.box.cx)
        else line.sortBy(_.box.cx)
      if (!prevLineRight.isNaN) {
        val rightGap = container.x2 - prevLineRight
        if (rightGap > container.w * HardBreakGapFrac) {
          if (sb.length() == 0 || sb.charAt(sb.length() - 1) != '\n') sb.append('\n')
        } else if (needsSpace()) sb.append(' ')
      }
      var fi = 0
      for (tb <- ordered) {
        if (fi > 0 && needsSpace()) sb.append(' ')
        sb.append(tb.text)
        used += tb
        fi += 1
      }
      prevLineRight = line.iterator.map(_.box.x2).max
    }
    // trim trailing whitespace (stitching.rs trim_end)
    var end = sb.length()
    while (end > 0 && Character.isWhitespace(sb.charAt(end - 1))) end -= 1
    (sb.substring(0, end), used.result())
  }

  // ---- table assembly ------------------------------------------------------

  /** Split a text box that straddles several cells into per-cell fragments,
    * dividing the text proportionally to the horizontal overlap with each
    * cell — the reference's OCR-box-splitting-by-cells. A box whose best
    * cell covers >= 0.6 of it (the reference's IoA coverage threshold) is
    * NOT split. Fragment byte offsets are UTF-8 prefix lengths inside the
    * original box's byte range — EXACT when that range IS the UTF-8
    * encoding of the text (dialect pages; plain-ASCII real-PDF literals).
    * When it is not (escaped literals, WinAnsi high bytes, CID hex — the
    * range indexes raw or decoded-stream bytes where UTF-8 prefix math
    * does not apply), every fragment carries the PARENT's full byte range:
    * a covering span, always in bounds, still slicing to the source. */
  def splitAcrossCells(tb: TextBox, cells: Vector[Box]): Vector[TextBox] = {
    if (tb.text.isEmpty) return Vector(tb)
    val hits = cells.filter(c => Geom.intersectionArea(tb.box, c) > 0)
    if (hits.length < 2) return Vector(tb)
    val bestIoa = hits.map(c => Geom.intersectionArea(tb.box, c) / math.max(tb.box.area, 1e-9)).max
    if (bestIoa >= 0.6) return Vector(tb)
    val ordered = hits.sortBy(_.x1)
    val widths = ordered.map(c => math.max(0.0, math.min(tb.box.x2, c.x2) - math.max(tb.box.x1, c.x1)))
    val total = widths.sum
    if (total <= 0) return Vector(tb)
    val n = tb.text.length
    // never cut a surrogate pair: a bound landing on a low surrogate moves
    // one char right (the pair stays whole in the left fragment)
    val bounds = widths.scanLeft(0.0)(_ + _).map { w =>
      var b = math.round(n * w / total).toInt
      if (b > 0 && b < n && Character.isLowSurrogate(tb.text.charAt(b))) b += 1
      b
    }
    // length equality alone is NOT sufficient (an escape's extra byte can
    // cancel a multi-byte UTF-8 char: `(\(é)` is 3 raw bytes and 3 UTF-8
    // bytes but misaligned); with all-ASCII text, any escape or multi-byte
    // source unit strictly lengthens the range, so equality ⟹ the range IS
    // the text bytes. Non-ASCII straddlers take the covering range.
    val utf8Exact =
      tb.endByte - tb.beginByte == tb.text.length && tb.text.forall(_ < 0x80)
    val out = Vector.newBuilder[TextBox]
    var byteOff = 0L
    for (k <- ordered.indices) {
      val (lo, hi) = (bounds(k), bounds(k + 1))
      if (hi > lo) {
        val frag = tb.text.substring(lo, hi)
        val fx1 = math.max(tb.box.x1, ordered(k).x1)
        val fx2 = math.min(tb.box.x2, ordered(k).x2)
        val (b0, e0) =
          if (utf8Exact) {
            val fragBytes = frag.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
            val r = (tb.beginByte + byteOff, tb.beginByte + byteOff + fragBytes)
            byteOff += fragBytes
            r
          } else (tb.beginByte, tb.endByte) // covering span: non-UTF-8 coordinate space
        out += TextBox(Box(fx1, tb.box.y1, fx2, tb.box.y2), frag, b0, e0, tb.decoded)
      }
    }
    val res = out.result()
    if (res.isEmpty) Vector(tb) else res
  }

  /** Assemble one table: merge double-fired detections (NMS-with-merge),
    * reconcile structure/detected cells (k-means cluster of the text boxes
    * stands in for structure when no cells are given), split text boxes that
    * straddle cell boundaries, assign to cells by best IoU (center
    * containment fallback), group cells into rows by center-y, render
    * canonical HTML. Returns (html, consumed text boxes in cell order). */
  def assembleTable(spec: TableSpec, tBoxes0: Vector[TextBox]): (String, Vector[TextBox]) = {
    if (tBoxes0.isEmpty) return ("", Vector.empty)
    val targetN = spec.rows * spec.cols
    val struct: Vector[Box] =
      if (spec.structCells.nonEmpty) spec.structCells
      else Cells.combineRectanglesKmeans(tBoxes0.map(_.box), targetN)
    val cells = Cells.reconcile(struct, Cells.nmsWithMerge(spec.detCells))
    val tBoxes = tBoxes0.flatMap(tb => splitAcrossCells(tb, cells))
    // assign text boxes to cells
    val byCell = Array.fill(cells.length)(Vector.newBuilder[TextBox])
    for (tb <- tBoxes) {
      var best = -1
      var bestIou = 0.0
      for (ci <- cells.indices) {
        val v = Geom.iou(tb.box, cells(ci))
        if (v > bestIou) { bestIou = v; best = ci }
      }
      if (best < 0) {
        // fallback: center containment, then nearest center
        val cx = tb.box.cx; val cy = tb.box.cy
        best = cells.indexWhere(c => cx >= c.x1 && cx <= c.x2 && cy >= c.y1 && cy <= c.y2)
        if (best < 0) {
          var bd = Double.MaxValue
          for (ci <- cells.indices) {
            val dx = cells(ci).cx - cx; val dy = cells(ci).cy - cy
            val d = dx * dx + dy * dy
            if (d < bd) { bd = d; best = ci }
          }
        }
      }
      if (best >= 0) byCell(best) += tb
    }
    // row grouping by cell center-y (tolerance = half median cell height)
    val order = cells.indices.sortBy(ci => (cells(ci).cy, cells(ci).cx))
    val heights = cells.map(_.h).sorted
    val rowTol = math.max(1.0, heights(heights.length / 2) / 2)
    val rows = Vector.newBuilder[Vector[Int]]
    var cur = Vector.newBuilder[Int]
    var rowY = Double.NaN
    for (ci <- order) {
      val cy = cells(ci).cy
      if (rowY.isNaN || math.abs(cy - rowY) <= rowTol) {
        if (rowY.isNaN) rowY = cy
        cur += ci
      } else { rows += cur.result(); cur = Vector.newBuilder; cur += ci; rowY = cy }
    }
    rows += cur.result()
    val consumed = Vector.newBuilder[TextBox]
    val gridRows = rows.result().map { rowCells =>
      rowCells.sortBy(ci => cells(ci).cx).map { ci =>
        val (txt, used) = sortAndJoin(byCell(ci).result(), cells(ci))
        consumed ++= used
        (1, 1, false, txt)
      }.toVector
    }
    (TableGrid.render(TableGrid.resolve(gridRows)), consumed.result())
  }

  // ---- page render ---------------------------------------------------------

  /** One page: enhanced layout order over headers/titles/figures/tables/text
    * regions, each element rendered by its markdown rule, elements joined by
    * "\n\n" (hard breaks inside a region become paragraph separators, the
    * reference's default-text rule structure.rs:382-389). */
  /** per-class unclip ratio: table regions widen slightly so text straddling
    * the region boundary still assigns to the table (layout_postprocess.rs
    * unclip_boxes analogue; ratio order-of-magnitude per its defaults). */
  val TableUnclipRatio = 1.05

  def renderPage(page: PdfPage): (String, Vector[(Long, Long, String)]) = {
    // A formula/table suppressed by the overlap rule is a RE-CLASSIFICATION,
    // not a deletion: its diverted T boxes (consumed by mask-then-detect /
    // cell assignment below) would otherwise vanish with it — a silent hole
    // in the text, since those pools are disjoint from every region by
    // construction (unlike figures/titles, whose drop is dedup of their own
    // duplicated render). The page re-lays out without the demoted element
    // so its boxes flow back into body regions; each round excludes at
    // least one element, so the loop is bounded by the element count.
    var exFormulas = Set.empty[Int]
    var exTables = Set.empty[Int]
    var tableBoxesR: Array[Vector[TextBox]] = null
    var elTable: Vector[PageEl] = null
    var ordered: Vector[LayoutSort.Sortable] = null
    var stable = false
    while (!stable) {
      val tableBoxes = Array.fill(page.tables.length)(Vector.newBuilder[TextBox])
      val bodyBoxes = Vector.newBuilder[TextBox]
      val unclipped = page.tables.map(t => Geom.unclip(t.box, TableUnclipRatio, TableUnclipRatio))
      // mask-then-detect (structure.rs:1981-1990): T boxes inside a formula
      // region are the formula's own rendering — the recognized latex
      // replaces them, so they are consumed, never grouped into body regions
      for (tb <- page.boxes) {
        val ti = unclipped.indices.find(i => !exTables.contains(i) && {
          val t = unclipped(i)
          tb.box.cx >= t.x1 && tb.box.cx <= t.x2 &&
            tb.box.cy >= t.y1 && tb.box.cy <= t.y2
        }).getOrElse(-1)
        if (ti >= 0) tableBoxes(ti) += tb
        else if (!page.formulas.zipWithIndex.exists { case (f, fi) =>
          !exFormulas.contains(fi) &&
            tb.box.cx >= f.box.x1 && tb.box.cx <= f.box.x2 &&
            tb.box.cy >= f.box.y1 && tb.box.cy <= f.box.y2
        }) bodyBoxes += tb
      }
      val regions = textRegions(bodyBoxes.result())

      // unified typed element table: every Sortable's payload is an index
      // into `els`, and the element's class travels as the PageEl tag (no
      // magic index ranges). Labels: text regions NormalText; titles level1
      // DocTitle else ParaTitle; figures/formulas/tables Vision.
      val els = Vector.newBuilder[PageEl]
      var nEls = 0
      def add(el: PageEl): Int = { els += el; nEls += 1; nEls - 1 }
      val regionEls = regions.map { r =>
        LayoutSort.Sortable(union(r), LayoutSort.NormalText, add(RegionEl(r)))
      }
      val formulaElIdx = scala.collection.mutable.HashMap.empty[Int, Int] // el idx -> formula idx
      val tableElIdx = scala.collection.mutable.HashMap.empty[Int, Int]   // el idx -> table idx
      val floating =
        page.titles.map { t =>
          LayoutSort.Sortable(t.tb.box,
            if (t.level == 1) LayoutSort.DocTitle else LayoutSort.ParaTitle, add(TitleEl(t)))
        } ++
        page.figures.map { f =>
          LayoutSort.Sortable(f.box, LayoutSort.Vision, add(FigureEl(f)))
        } ++
        page.formulas.zipWithIndex.collect { case (f, fi) if !exFormulas.contains(fi) =>
          val el = add(FormulaEl(f)); formulaElIdx(el) = fi
          LayoutSort.Sortable(f.box, LayoutSort.Vision, el)
        } ++
        page.tables.zipWithIndex.collect { case (t, i) if !exTables.contains(i) =>
          val el = add(TableEl(i)); tableElIdx(el) = i
          LayoutSort.Sortable(t.box, LayoutSort.Vision, el)
        }
      val headerEls = page.headers.map { h =>
        LayoutSort.Sortable(h.box, LayoutSort.NormalText, add(HeaderEl(h)))
      }
      val footerEls = page.footers.map { f =>
        LayoutSort.Sortable(f.box, LayoutSort.NormalText, add(FooterEl(f)))
      }
      elTable = els.result()
      // duplicate-element suppression before ordering (text beats vision)
      val surviving = LayoutSort.removeOverlaps(regionEls ++ floating)
      val survivingIdx = surviving.map(_.payload).toSet
      val demotedF = formulaElIdx.collect { case (el, fi) if !survivingIdx(el) => fi }
      val demotedT = tableElIdx.collect { case (el, ti) if !survivingIdx(el) => ti }
      if (demotedF.isEmpty && demotedT.isEmpty) {
        stable = true
        tableBoxesR = tableBoxes.map(_.result())
        val (regionsKept, floatingKept) =
          surviving.partition(s => elTable(s.payload).isInstanceOf[RegionEl])
        ordered = LayoutSort.enhancedOrder(headerEls, footerEls, regionsKept, floatingKept)
      } else {
        exFormulas ++= demotedF
        exTables ++= demotedT
      }
    }

    val pieces = Vector.newBuilder[String]
    val offs = Vector.newBuilder[(Long, Long, String)]
    // decoded-space runs (compressed real-PDF streams) carry the `_dec`
    // coordinate-space flag in the span kind (RealPdf span contract)
    @inline def fragKind(tb: TextBox): String =
      if (tb.decoded) "pdf_fragment_dec" else "pdf_fragment"
    for (el <- ordered) elTable(el.payload) match {
      case RegionEl(r) =>
        val (txt, used) = sortAndJoin(r, union(r))
        for (tb <- used) offs += ((tb.beginByte, tb.endByte, fragKind(tb)))
        // hard breaks become paragraph separators (structure.rs:382-389)
        txt.split('\n').filter(_.nonEmpty).foreach(pieces += _)
      case TitleEl(t) =>
        val lvl = TitleLevel.resolve(t.tb.text, t.level)
        pieces += ("#" * lvl) + " " + t.tb.text
        offs += ((t.tb.beginByte, t.tb.endByte, fragKind(t.tb)))
      case FigureEl(f) =>
        pieces += s"![Figure](${f.text})"
        offs += ((f.beginByte, f.endByte, fragKind(f)))
      case FormulaEl(f) =>
        // typed formula span: x05 counts formulas from THIS kind, never
        // from a regex over the rendered text (body text may contain $$)
        offs += ((f.beginByte, f.endByte, if (f.decoded) "pdf_formula_dec" else "pdf_formula"))
        pieces += "$$" + normalizeLatex(f.text) + "$$"
      case TableEl(i) =>
        val (html, used) = assembleTable(page.tables(i), tableBoxesR(i))
        if (html.nonEmpty) {
          pieces += html
          for (tb <- used) offs += ((tb.beginByte, tb.endByte, fragKind(tb)))
        }
      case HeaderEl(h) =>
        pieces += s"<small>${h.text}</small>"
        offs += ((h.beginByte, h.endByte, fragKind(h)))
      case FooterEl(f) =>
        pieces += s"<small>${f.text}</small>"
        offs += ((f.beginByte, f.endByte, fragKind(f)))
    }
    (pieces.result().mkString("\n\n"), offs.result())
  }

  /** Full payload: pages joined by the page break; spans carry kind
    * pdf_fragment (pdf_formula for formula boxes; `_dec` suffix when offsets
    * are in decoded-stream space) with blockIdx = page
    * index. Real `%PDF-1.x` bytes go
    * through [[RealPdf]] (which throws on unparseable input → error row);
    * the synthetic dialect keeps its own parser. */
  def extract(bytes: Array[Byte]): (String, Array[Span]) = {
    val pages =
      if (RealPdf.isReal(bytes)) RealPdf.parse(bytes) else parsePayload(bytes)
    val texts = Vector.newBuilder[String]
    val spans = Array.newBuilder[Span]
    var pi = 0
    for (p <- pages) {
      val (t, offs) = renderPage(p)
      texts += t
      for ((b, e, k) <- offs) spans += Span(pi, b, e, k)
      pi += 1
    }
    (texts.result().mkString(PageBreak), spans.result())
  }
}
