package graft.geom

/** Axis-aligned box + overlap math for the PDF-payload layout branch.
  *
  * Ports of the reference geometry kernels
  * (/root/reference/src/processors/geometry.rs:142-172,574-760) kept as one
  * single implementation (the reference duplicates iou in three files; we
  * don't). Pure Scala, called only inside row mappers — never a UDF in the
  * hot relational path.
  */
final case class Box(x1: Double, y1: Double, x2: Double, y2: Double) {
  def w: Double = math.max(0.0, x2 - x1)
  def h: Double = math.max(0.0, y2 - y1)
  def area: Double = w * h
  def cx: Double = (x1 + x2) / 2
  def cy: Double = (y1 + y2) / 2
}

object Geom {
  def intersectionArea(a: Box, b: Box): Double = {
    val w = math.min(a.x2, b.x2) - math.max(a.x1, b.x1)
    val h = math.min(a.y2, b.y2) - math.max(a.y1, b.y1)
    if (w <= 0 || h <= 0) 0.0 else w * h
  }

  def iou(a: Box, b: Box): Double = {
    val i = intersectionArea(a, b)
    val u = a.area + b.area - i
    if (u <= 0) 0.0 else i / u
  }

  /** Intersection over the SMALLER area — the reference's containment test
    * (/root/reference/src/processors/layout_utils.rs:716).
    */
  def ioa(a: Box, b: Box): Double = {
    val i = intersectionArea(a, b)
    val s = math.min(a.area, b.area)
    if (s <= 0) 0.0 else i / s
  }

  /** Scale a box's width/height around its center by per-class ratios — the
    * reference's unclip_boxes
    * (/root/reference/src/processors/layout_postprocess.rs:496-542). Used to
    * widen element boundaries (e.g. a table region grows slightly so
    * boundary-straddling text still assigns to it). */
  def unclip(b: Box, ratioW: Double, ratioH: Double): Box = {
    val hw = b.w * ratioW / 2
    val hh = b.h * ratioH / 2
    Box(b.cx - hw, b.cy - hh, b.cx + hw, b.cy + hh)
  }
}
