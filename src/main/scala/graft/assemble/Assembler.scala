package graft.assemble

import graft.model.{Block, Span}
import graft.html.BlockBuilder.RawBlock

/** Title-level refinement from numbering prefixes — port of the reference's
  * `format_title_with_level` regexes
  * (/root/reference/src/domain/structure.rs:17-43,59-94): arabic dotted
  * numbering depth, Chinese numerals, Roman numerals.
  */
object TitleLevel {
  private val arabic = java.util.regex.Pattern.compile(
    "^(\\d{1,3})((?:\\.\\d{1,3})*)[.、]?\\s")
  private val chinese = java.util.regex.Pattern.compile(
    "^[一二三四五六七八九十百千]+[、.．]\\s?")
  private val roman = java.util.regex.Pattern.compile(
    "^(?=[IVXLC])[IVXLC]{1,7}[.、]\\s")

  /** Resolve the render level for a title: numbering prefix wins over the
    * h-tag level; clamp to 1..6. */
  def resolve(text: String, tagLevel: Int): Int = {
    val m = arabic.matcher(text)
    if (m.find()) {
      val extraDots = m.group(2).count(_ == '.')
      return math.min(6, math.max(1, 1 + extraDots))
    }
    if (chinese.matcher(text).find()) return 1
    if (roman.matcher(text).find()) return 1
    math.min(6, math.max(1, if (tagLevel > 0) tagLevel else 2))
  }
}

/** Final text + span assembly — the reference's stitching stage
  * (/root/reference/src/oarocr/stitching.rs:70-227) and markdown renderer
  * (/root/reference/src/domain/structure.rs:227-392) collapsed into the
  * byte-identity-critical render rules:
  *   - title  -> "#"*level + " " + text
  *   - paragraph -> text
  *   - list_item -> "- " + text
  *   - figure -> "![Figure](alt)"   (structure.rs:318-326 Image/Chart)
  *   - caption -> "*text*"           (structure.rs:337-343 captions)
  *   - formula -> "$$text$$"         (structure.rs:310-316 Formula)
  *   - table -> canonical single-line HTML (tables retain HTML,
  *     /root/reference/src/oarocr/stitching.rs:9-12)
  *   - blocks joined by "\n\n"
  * Runs entirely per-row: all inputs are already colocated, no join.
  */
object Assembler {

  def render(blocks: Vector[Block]): String = {
    val sb = new java.lang.StringBuilder(1024)
    var first = true
    for (b <- blocks if b.keep) {
      if (!first) sb.append("\n\n")
      first = false
      b.kind match {
        case "title" =>
          val lvl = TitleLevel.resolve(b.text, b.level)
          var i = 0
          while (i < lvl) { sb.append('#'); i += 1 }
          sb.append(' ').append(b.text)
        case "list_item" => sb.append("- ").append(b.text)
        case "figure"    => sb.append("![Figure](").append(b.text).append(')')
        case "caption"   => sb.append('*').append(b.text).append('*')
        case "formula"   => sb.append("$$").append(b.text).append("$$")
        case _           => sb.append(b.text)
      }
    }
    sb.toString
  }

  /** Semantic-HTML render of the kept blocks — the analogue of the
    * reference's `to_html` (/root/reference/src/domain/structure.rs:397-533):
    * titles -> h1..h6, consecutive list items -> one <ul>, tables embedded
    * with border styling, formulas -> <p class="formula">$$..$$</p>, figures
    * -> <figure><img/><figcaption>, text escaped with the same 5-entity rule.
    */
  def renderHtml(blocks: Vector[Block]): String = {
    import graft.html.TableGrid.escape
    val sb = new java.lang.StringBuilder(1024)
    sb.append("<!DOCTYPE html>\n<html>\n<head>\n<meta charset=\"UTF-8\">\n</head>\n<body>\n")
    var inList = false
    def closeList(): Unit = if (inList) { sb.append("</ul>\n"); inList = false }
    for (b <- blocks if b.keep) {
      b.kind match {
        case "list_item" =>
          if (!inList) { sb.append("<ul>\n"); inList = true }
          sb.append("<li>").append(escape(b.text)).append("</li>\n")
        case other =>
          closeList()
          other match {
            case "title" =>
              val lvl = TitleLevel.resolve(b.text, b.level)
              sb.append("<h").append(lvl).append('>').append(escape(b.text))
                .append("</h").append(lvl).append(">\n")
            case "table" =>
              sb.append(b.text.replace("<table>",
                "<table border=\"1\" style=\"border-collapse: collapse;\">")).append('\n')
            case "formula" =>
              sb.append("<p class=\"formula\">$$").append(escape(b.text)).append("$$</p>\n")
            case "figure" =>
              sb.append("<figure>\n<img alt=\"Figure\" />\n<figcaption>")
                .append(escape(b.text)).append("</figcaption>\n</figure>\n")
            case "caption" =>
              sb.append("<figcaption>").append(escape(b.text)).append("</figcaption>\n")
            case "preformatted" =>
              sb.append("<pre>").append(escape(b.text)).append("</pre>\n")
            case _ =>
              sb.append("<p>").append(escape(b.text)).append("</p>\n")
          }
      }
    }
    closeList()
    sb.append("</body>\n</html>")
    sb.toString
  }

  /** JSON render carrying block metadata + span byte coordinates — the
    * analogue of the reference's serialized result
    * (/root/reference/src/domain/structure.rs:544-581). Hand-rolled writer:
    * stable field order, full control-char escaping. */
  def renderJson(blocks: Vector[Block], spans: Array[Span]): String = {
    val sb = new java.lang.StringBuilder(2048)
    def str(s: String): Unit = {
      sb.append('"')
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.append('"')
    }
    sb.append("{\"blocks\":[")
    var first = true
    for (b <- blocks) {
      if (!first) sb.append(',')
      first = false
      sb.append("{\"idx\":").append(b.idx)
        .append(",\"kind\":"); str(b.kind)
      sb.append(",\"level\":").append(b.level)
        .append(",\"chars\":").append(b.chars)
        .append(",\"anchor_chars\":").append(b.anchorChars)
        .append(",\"keep\":").append(b.keep)
        .append(",\"text\":"); str(b.text)
      sb.append('}')
    }
    sb.append("],\"spans\":[")
    first = true
    for (s <- spans) {
      if (!first) sb.append(',')
      first = false
      sb.append("{\"block_idx\":").append(s.blockIdx)
        .append(",\"begin_byte\":").append(s.beginByte)
        .append(",\"end_byte\":").append(s.endByte)
        .append(",\"kind\":"); str(s.kind)
      sb.append('}')
    }
    sb.append("]}")
    sb.toString
  }

  /** Span table for kept blocks: table blocks expand to one span per cell;
    * offsets are byte positions into the RAW html (assembly order = the
    * 1-based order_index semantics,
    * /root/reference/src/oarocr/stitching.rs:257-267). */
  def spans(raws: Vector[RawBlock], blocks: Vector[Block]): Array[Span] = {
    val out = Array.newBuilder[Span]
    var i = 0
    while (i < blocks.length) {
      val b = blocks(i)
      if (b.keep) {
        val r = raws(i)
        if (b.kind == "table" && r.cellRuns.nonEmpty) {
          for ((cb, ce) <- r.cellRuns) out += Span(i, cb, ce, "table_cell")
        } else if (r.beginByte >= 0) {
          out += Span(i, r.beginByte, r.endByte, b.kind)
        }
      }
      i += 1
    }
    out.result()
  }
}

/** The join rule of the reference's smart text join
  * (src/oarocr/stitching.rs:603-697,731-733), applied by
  * `PdfParser.sortAndJoin`.
  */
object JoinRules {
  /** The single definition of the space-insertion class: a fragment boundary
    * takes a space only after an ASCII letter (reference `needs_space_after`,
    * stitching.rs:731-733); CJK, RTL, digits and punctuation join bare. */
  @inline def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
}
