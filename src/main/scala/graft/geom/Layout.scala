package graft.geom

/** Table-cell geometry kernels — ports of the reference's cell
  * reconciliation pipeline (/root/reference/src/processors/layout_utils.rs:
  * 255-534): structure cells provide the logical grid size N, detected cells
  * provide precise geometry, and k-means-style center clustering bridges
  * count mismatches. Pure functions called inside row mappers only.
  */
object Cells {

  /** Combine `rects` into at most `targetN` boxes by k-means on box centers
    * (first-targetN init, 10 iterations, cluster -> union bbox), mirroring
    * `combine_rectangles_kmeans` (/root/reference/src/processors/layout_utils.rs:430-534).
    * Deterministic: no random init. */
  def combineRectanglesKmeans(rects: IndexedSeq[Box], targetN: Int): Vector[Box] = {
    val n = rects.length
    if (n == 0 || targetN == 0) return Vector.empty
    if (targetN >= n) return rects.toVector
    val px = rects.map(_.cx).toArray
    val py = rects.map(_.cy).toArray
    val cx = new Array[Double](targetN)
    val cy = new Array[Double](targetN)
    var c = 0
    while (c < targetN) { cx(c) = px(c); cy(c) = py(c); c += 1 }
    val labels = new Array[Int](n)
    var iter = 0
    var changed = true
    while (iter < 10 && changed) {
      changed = false
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var k = 0
        while (k < targetN) {
          val dx = px(i) - cx(k); val dy = py(i) - cy(k)
          val d = dx * dx + dy * dy
          if (d < bestD) { bestD = d; best = k }
          k += 1
        }
        if (labels(i) != best) { labels(i) = best; changed = true }
        i += 1
      }
      val sx = new Array[Double](targetN); val sy = new Array[Double](targetN)
      val cnt = new Array[Int](targetN)
      var j = 0
      while (j < n) { val l = labels(j); sx(l) += px(j); sy(l) += py(j); cnt(l) += 1; j += 1 }
      c = 0
      while (c < targetN) {
        if (cnt(c) > 0) { cx(c) = sx(c) / cnt(c); cy(c) = sy(c) / cnt(c) }
        c += 1
      }
      iter += 1
    }
    val out = Vector.newBuilder[Box]
    c = 0
    while (c < targetN) {
      var x1 = Double.MaxValue; var y1 = Double.MaxValue
      var x2 = Double.MinValue; var y2 = Double.MinValue
      var any = false
      var i = 0
      while (i < n) {
        if (labels(i) == c) {
          val r = rects(i)
          x1 = math.min(x1, r.x1); y1 = math.min(y1, r.y1)
          x2 = math.max(x2, r.x2); y2 = math.max(y2, r.y2)
          any = true
        }
        i += 1
      }
      if (any) out += Box(x1, y1, x2, y2)
      c += 1
    }
    val res = out.result()
    if (res.isEmpty) rects.toVector else res
  }

  /** NMS-with-merge — the reference's same-class variant
    * (/root/reference/src/processors/layout_postprocess.rs apply_nms_with_
    * merge): overlapping boxes of one class are UNIONED rather than
    * suppressed (a detector double-firing on one cell yields one box).
    * Greedy transitive clustering on IoU > threshold, earlier boxes seed
    * clusters; output order follows first member. */
  def nmsWithMerge(boxes: IndexedSeq[Box], iouThresh: Double = 0.5): Vector[Box] = {
    val n = boxes.length
    if (n <= 1) return boxes.toVector
    val cluster = Array.tabulate(n)(identity)
    def root(i: Int): Int = { var r = i; while (cluster(r) != r) r = cluster(r); r }
    for (i <- 0 until n; j <- (i + 1) until n)
      if (Geom.iou(boxes(i), boxes(j)) > iouThresh) {
        val (ri, rj) = (root(i), root(j))
        if (ri != rj) cluster(math.max(ri, rj)) = math.min(ri, rj)
      }
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, Box]
    for (i <- 0 until n) {
      val r = root(i)
      seen.get(r) match {
        case None => seen(r) = boxes(i)
        case Some(b) => seen(r) = Box(math.min(b.x1, boxes(i).x1), math.min(b.y1, boxes(i).y1),
          math.max(b.x2, boxes(i).x2), math.max(b.y2, boxes(i).y2))
      }
    }
    seen.values.toVector
  }

  /** Reconcile structure cells (logical grid, length N) with detected cells
    * (precise geometry): detected cells are k-means-reduced to N if there are
    * more, then each is assigned to its best-IoU structure cell (min IoU
    * 0.001); unmatched structure cells keep their own box (fill), single
    * matches take the detected box, multiple matches merge to their union
    * (compress). Port of `reconcile_table_cells`
    * (/root/reference/src/processors/layout_utils.rs:255-320). */
  def reconcile(structCells: IndexedSeq[Box], detCells: IndexedSeq[Box]): Vector[Box] = {
    val n = structCells.length
    if (n == 0) return Vector.empty
    if (detCells.isEmpty) return structCells.toVector
    val det: Vector[Box] =
      if (detCells.length > n) combineRectanglesKmeans(detCells, n)
      else detCells.toVector
    val assigned = Array.fill(n)(List.empty[Int])
    for (di <- det.indices) {
      var bestIou = 0.001
      var bestSi = -1
      for (si <- 0 until n) {
        val v = Geom.iou(det(di), structCells(si))
        if (v > bestIou) { bestIou = v; bestSi = si }
      }
      if (bestSi >= 0) assigned(bestSi) = di :: assigned(bestSi)
    }
    Vector.tabulate(n) { si =>
      assigned(si) match {
        case Nil       => structCells(si)
        case di :: Nil => det(di)
        case dis =>
          dis.map(det).reduce((a, b) =>
            Box(math.min(a.x1, b.x1), math.min(a.y1, b.y1),
              math.max(a.x2, b.x2), math.max(a.y2, b.y2)))
      }
    }
  }
}

/** Enhanced reading-order sort — port of the reference's weighted-distance
  * insertion (/root/reference/src/processors/layout_sorting.rs:125-471):
  * headers first, footers last; body text regions keep the projection-profile
  * order `PdfParser.textRegions` gives them (columns left to right, regions
  * top to bottom) and the floating elements (doc titles, vision anchors = tables/figures,
  * paragraph titles) are inserted one by one next to their nearest neighbor
  * under an edge-distance metric weighted per element class.
  */
object LayoutSort {

  sealed trait Label
  case object NormalText extends Label
  case object DocTitle extends Label
  case object ParaTitle extends Label
  case object Vision extends Label // tables, figures: strong anchors

  final case class Sortable(box: Box, label: Label, payload: Int)

  private val ToleranceLen = 2.0
  private val EdgeWeight = 10000.0
  private val UpEdgeWeight = 1.0
  private val LeftEdgeWeight = 0.0001

  /** left/right/up/down distance weights per class
    * (layout_sorting.rs:398-414). `horizontal` = block wider than tall. */
  private def weights(label: Label, horizontal: Boolean): Array[Double] = label match {
    case DocTitle => if (horizontal) Array(1.0, 0.1, 0.1, 1.0) else Array(0.2, 0.1, 1.0, 1.0)
    case ParaTitle | Vision => Array(1.0, 1.0, 0.1, 1.0)
    case _ => Array(1.0, 1.0, 1.0, 0.1)
  }

  private def projOverlap(a: Box, b: Box, xAxis: Boolean): Double = {
    val (min1, max1, min2, max2) =
      if (xAxis) (a.x1, a.x2, b.x1, b.x2) else (a.y1, a.y2, b.y1, b.y2)
    val inter = math.max(0.0, math.min(max1, max2) - math.max(min1, min2))
    val union = math.max(max1, max2) - math.min(min1, min2)
    if (union > 0) inter / union else 0.0
  }

  /** Nearest-edge distance with per-side weights; 0 when the boxes overlap in
    * both projections (layout_sorting.rs:416-446). */
  private def edgeDistance(b1: Box, b2: Box, w: Array[Double]): Double = {
    val hOv = projOverlap(b1, b2, xAxis = true)
    val vOv = projOverlap(b1, b2, xAxis = false)
    if (hOv > 0 && vOv > 0) return 0.0
    var minX = 0.0
    var minY = 0.0
    if (hOv == 0) {
      val d = math.min(math.abs(b1.x1 - b2.x2), math.abs(b1.x2 - b2.x1))
      minX = d * (if (b1.x2 < b2.x1) w(0) else w(1))
    }
    if (vOv == 0) {
      val d = math.min(math.abs(b1.y1 - b2.y2), math.abs(b1.y2 - b2.y1))
      minY = d * (if (b1.y2 < b2.y1) w(2) else w(3))
    }
    minX + minY
  }

  /** Insert `block` into `sorted` at the position given by the weighted
    * distance rule (layout_sorting.rs:231-396, horizontal region). */
  def weightedInsert(block: Sortable, sorted: scala.collection.mutable.ArrayBuffer[Sortable]): Unit = {
    if (sorted.isEmpty) { sorted += block; return }
    val w = weights(block.label, block.box.w >= block.box.h)
    var minWeighted = Double.PositiveInfinity
    var minUpEdge = Double.PositiveInfinity
    var nearest = 0
    val x1 = block.box.x1; val y1 = block.box.y1
    for (idx <- sorted.indices) {
      val sb = sorted(idx)
      val edge = edgeDistance(block.box, sb.box, w)
      var upDist = sb.box.y1
      var leftDist = sb.box.x1
      // floating elements below an already-sorted block flip the distances
      // negative so earlier (higher) anchors win ties
      val isBelow = sb.box.y2 < y1
      if (isBelow) { upDist = -upDist; leftDist = -leftDist }
      if (math.abs(minUpEdge - upDist) <= ToleranceLen) upDist = minUpEdge
      val weighted = edge * EdgeWeight + upDist * UpEdgeWeight + leftDist * LeftEdgeWeight
      minUpEdge = math.min(minUpEdge, upDist)
      if (weighted < minWeighted) {
        minWeighted = weighted
        // before-or-after: 2-unit y buckets, then x, then centroid norm
        val yi = math.floor(y1).toInt / 2
        val ypi = math.floor(sb.box.y1).toInt / 2
        val (sortedVal, blockVal) =
          if (math.abs(yi - ypi) > 0) (sb.box.y1, y1)
          else {
            // deliberately the block's OWN x1 vs x2 buckets — a WIDTH gate,
            // not a block-vs-neighbor compare. This ports the reference
            // exactly (layout_sorting.rs:348-365, itself flagging that the
            // upstream Python uses `abs(x1//2 - x2//2)`): narrow blocks
            // (< ~2 units) fall through to the centroid-norm tie-break.
            val xi = math.floor(x1).toInt / 2
            val x2i = math.floor(block.box.x2).toInt / 2
            if (math.abs(xi - x2i) > 0) (sb.box.x1, x1)
            else {
              val (cx, cy) = (block.box.cx, block.box.cy)
              val (sx, sy) = (sb.box.cx, sb.box.cy)
              (sx * sx + sy * sy, cx * cx + cy * cy)
            }
          }
        nearest = if (blockVal > sortedVal) idx + 1 else idx
      }
    }
    sorted.insert(math.min(nearest, sorted.length), block)
  }

  /** Overlap removal — the reference's duplicate-element suppression
    * (/root/reference/src/domain/structure.rs:1013-1046,
    * layout_utils.rs:618,716): when two elements overlap with
    * IoA(smaller) above the threshold, drop the Vision element against text
    * (text priority, threshold 0.5), otherwise drop the smaller element
    * (threshold 0.65). Earlier elements win ties. */
  def removeOverlaps(els: Vector[Sortable]): Vector[Sortable] = {
    val dropped = scala.collection.mutable.BitSet.empty
    for (i <- els.indices; j <- (i + 1) until els.length
         if !dropped(i) && !dropped(j)) {
      val a = els(i); val b = els(j)
      val ioa = Geom.ioa(a.box, b.box)
      (a.label, b.label) match {
        case (Vision, lb) if lb != Vision && ioa > 0.5 => dropped += i
        case (la, Vision) if la != Vision && ioa > 0.5 => dropped += j
        case _ if ioa > 0.65 =>
          dropped += (if (a.box.area < b.box.area) i else j)
        case _ => ()
      }
    }
    els.zipWithIndex.collect { case (e, i) if !dropped(i) => e }
  }

  /** Full enhanced order: headers (by y) ++ main ++ footers (by y), where
    * main = the region-ordered NormalText with DocTitle, then Vision, then
    * ParaTitle blocks weighted-inserted (each class pre-sorted by y). */
  def enhancedOrder(
      headers: Vector[Sortable], footers: Vector[Sortable],
      textRegions: Vector[Sortable], floating: Vector[Sortable]): Vector[Sortable] = {
    val sorted = scala.collection.mutable.ArrayBuffer.from(textRegions)
    for (b <- floating.filter(_.label == DocTitle).sortBy(_.box.y1)) weightedInsert(b, sorted)
    for (b <- floating.filter(_.label == Vision).sortBy(_.box.y1)) weightedInsert(b, sorted)
    for (b <- floating.filter(_.label == ParaTitle).sortBy(_.box.y1)) weightedInsert(b, sorted)
    headers.sortBy(_.box.y1) ++ sorted ++ footers.sortBy(_.box.y1)
  }
}
