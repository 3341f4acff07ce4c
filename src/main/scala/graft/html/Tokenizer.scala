package graft.html

/** Byte-level single-pass HTML tokenizer (SAX-style), the "detect" kernel.
  *
  * This is the analogue of the reference's DB binarize+contour stage
  * (/root/reference/src/processors/db_postprocess.rs:127-173): raw bytes in,
  * flat candidate structure out. Design constraints:
  *
  *   - operates directly on the RAW byte array so span offsets are byte
  *     offsets into the original html (coordinate-space discipline, see
  *     /root/reference/src/oarocr/result.rs:130-145) — tags are ASCII in both
  *     UTF-8 and windows-1252 so byte-level tag scanning is charset-safe;
  *   - no allocation per tag in the scan loop: tag names resolve from their
  *     bytes to ids of the static [[Tags]] table; only names outside it
  *     build a String, interned once per document — this is the hot path at
  *     100 TB;
  *   - robust to malformed input: a '<' not opening a plausible construct is
  *     literal text; unclosed tags at EOF are silently closed;
  *   - raw-text elements (script/style/template/textarea/title/noscript/svg)
  *     are skipped wholesale — the reference's "mask regions then detect"
  *     (/root/reference/src/utils/image.rs:781,
  *      /root/reference/src/oarocr/structure.rs:1981-1990).
  */
object Tokenizer {

  trait Sink {
    /** `tag` is the name's id (see [[Tags]]): static ids below `Tags.Known`,
      * per-document ids above for any other name, equal ids for names equal
      * up to ASCII case. attrs is the raw bytes INSIDE the tag after the
      * name (may be empty); selfClosing covers both `<br/>` and void tags. */
    def startTag(tag: Int, attrsBegin: Int, attrsEnd: Int, selfClosing: Boolean): Unit
    def endTag(tag: Int): Unit
    /** raw text run [begin, end) in BYTE offsets into the original html */
    def text(begin: Int, end: Int): Unit
  }

  @inline private def isAsciiAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  @inline private def isNameByte(b: Byte): Boolean =
    isAsciiAlpha(b) || (b >= '0' && b <= '9')

  /** Ids of the tag names outside the static table, per document: the same
    * name (any ASCII case) gets the same id, from `Tags.Known` upward. */
  private final class UnknownNames {
    private val map = new java.util.HashMap[String, Integer](16)
    def id(bytes: Array[Byte], from: Int, until: Int): Int = {
      val sb = new java.lang.StringBuilder(until - from)
      var i = from
      while (i < until) { sb.append(Tags.lower(bytes(i)).toChar); i += 1 }
      val s = sb.toString
      val got = map.get(s)
      if (got != null) got.intValue
      else { val id = Tags.Known + map.size; map.put(s, id); id }
    }
  }

  /** Scan `html` emitting events into `sink`. Never throws on malformed
    * input. Returns normally at EOF.
    */
  def tokenize(html: Array[Byte], sink: Sink): Unit = {
    val n = html.length
    var unknown: UnknownNames = null
    def tagId(from: Int, until: Int): Int = {
      val id = Tags.lookup(html, from, until)
      if (id >= 0) id
      else {
        if (unknown == null) unknown = new UnknownNames
        unknown.id(html, from, until)
      }
    }
    var i = 0
    var textStart = 0

    def flushText(until: Int): Unit =
      if (until > textStart) sink.text(textStart, until)

    while (i < n) {
      val b = html(i)
      if (b == '<' && i + 1 < n) {
        val c = html(i + 1)
        if (isAsciiAlpha(c)) {
          // start tag
          flushText(i)
          var j = i + 1
          while (j < n && isNameByte(html(j))) j += 1
          val tag = tagId(i + 1, j)
          val flags = Tags.flags(tag)
          val isVoid = (flags & Tags.Void) != 0
          val attrsBegin = j
          // scan to '>' honoring quoted attribute values
          var quote: Byte = 0
          var k = j
          var gt = -1
          while (k < n && gt < 0) {
            val d = html(k)
            if (quote != 0) { if (d == quote) quote = 0 }
            else if (d == '"' || d == '\'') quote = d
            else if (d == '>') gt = k
            k += 1
          }
          if (gt < 0) { // unclosed tag at EOF: treat rest as consumed
            sink.startTag(tag, attrsBegin, n, selfClosing = isVoid)
            i = n; textStart = n
          } else {
            // a trailing '/' is the self-closing marker ONLY when it follows
            // the tag name, whitespace, or a closing quote — a '/' ending an
            // UNQUOTED attribute value is part of the value (WHATWG 13.1.2.3:
            // unquoted values end at whitespace or '>'). Real crawled HTML
            // hits this constantly: <a href=http://x.com/> is NOT
            // self-closing, and treating it so would close the anchor before
            // its link text.
            val selfClose = gt > attrsBegin && html(gt - 1) == '/' && {
              val p = html(gt - 2) // gt-2 >= attrsBegin-1 = name end, safe
              gt - 1 == attrsBegin || p == ' ' || p == '\t' || p == '\n' ||
                p == '\r' || p == '\f' || p == '"' || p == '\''
            }
            val attrsEnd = if (selfClose) gt - 1 else gt
            sink.startTag(tag, attrsBegin, attrsEnd, selfClose || isVoid)
            i = gt + 1
            textStart = i
            if (!selfClose && !isVoid && (flags & Tags.RawText) != 0) {
              // skip to matching </name> (case-insensitive), masking content
              val close = findCloseTag(html, i, Tags.names(tag))
              if (close < 0) { i = n; textStart = n; sink.endTag(tag) }
              else {
                // close points at '<' of `</name`; find its '>'
                var g = close
                while (g < n && html(g) != '>') g += 1
                i = if (g < n) g + 1 else n
                textStart = i
                sink.endTag(tag)
              }
            }
          }
        } else if (c == '/') {
          // end tag
          flushText(i)
          var j = i + 2
          while (j < n && isNameByte(html(j))) j += 1
          var g = j
          while (g < n && html(g) != '>') g += 1
          if (j > i + 2) sink.endTag(tagId(i + 2, j))
          i = if (g < n) g + 1 else n
          textStart = i
        } else if (c == '!') {
          flushText(i)
          if (i + 3 < n && html(i + 1) == '!' && html(i + 2) == '-' && html(i + 3) == '-') {
            // abruptly closed comments (WHATWG: '<!-->' and '<!--->' END the
            // comment) — the general scan below starts PAST their '--' and
            // would otherwise swallow the rest of the document
            if (i + 4 < n && html(i + 4) == '>') i += 5
            else if (i + 5 < n && html(i + 4) == '-' && html(i + 5) == '>') i += 6
            else {
              // comment: skip to -->
              var j = i + 4
              var end = -1
              while (j + 2 < n && end < 0) {
                if (html(j) == '-' && html(j + 1) == '-' && html(j + 2) == '>') end = j + 3
                j += 1
              }
              i = if (end > 0) end else n
            }
          } else {
            // doctype / CDATA-ish: skip to '>'
            var g = i + 2
            while (g < n && html(g) != '>') g += 1
            i = if (g < n) g + 1 else n
          }
          textStart = i
        } else if (c == '?') {
          // processing instruction: skip to '>'
          flushText(i)
          var g = i + 2
          while (g < n && html(g) != '>') g += 1
          i = if (g < n) g + 1 else n
          textStart = i
        } else {
          i += 1 // literal '<' in text
        }
      } else {
        i += 1
      }
    }
    flushText(n)
  }

  /** Find index of '<' beginning `</name` (ASCII case-insensitive) at or
    * after `from`; -1 if absent. */
  private def findCloseTag(html: Array[Byte], from: Int, name: String): Int = {
    val n = html.length
    val m = name.length
    var i = from
    while (i + m + 2 <= n) {
      if (html(i) == '<' && html(i + 1) == '/') {
        var k = 0
        var ok = true
        while (ok && k < m) {
          if (Tags.lower(html(i + 2 + k)) != name.charAt(k)) ok = false
          k += 1
        }
        if (ok) {
          // next byte must end the name
          val after = i + 2 + m
          if (after >= n || !isAsciiAlpha(html(after))) return i
        }
      }
      i += 1
    }
    -1
  }
}

/** The static tag table: every tag name the HTML kernel tests, plus the
  * common inline names, each with an id (its index), its interned lower-case
  * name and its flag bits. The tokenizer resolves a name from its bytes with
  * one hash probe and no String; names outside the table get per-document
  * ids at or above [[Known]], whose flags are all clear.
  */
object Tags {
  /** Flag bits. */
  final val Void = 1       // no content, never pushed (`<br>`)
  final val RawText = 2    // content masked up to the close tag (`<script>`)
  final val Drop = 4       // boilerplate subtree, dropped wholesale (`<nav>`)
  final val Block = 8      // opens a text block (`<p>`, `<h1>`, `<td>`)
  final val Container = 16 // block boundary holding other blocks (`<div>`)
  final val ProbeBlock = 32 // block content that marks a layout table

  private val table: Array[(String, Int)] = {
    def all(flags: Int, names: String*) = names.map(_ -> flags)
    val probe = Set("div", "p", "ul", "ol", "dl", "section", "article",
      "h1", "h2", "h3", "h4", "h5", "h6")
    val entries =
      all(Void, "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr") ++
      all(RawText, "script", "style", "template", "textarea", "title",
        "noscript", "svg") ++
      // subtrees dropped wholesale (mask-then-detect, reference
      // src/oarocr/structure.rs:1981-1990)
      all(Drop, "nav", "aside", "header", "footer", "form", "button",
        "select", "iframe", "object", "menu", "dialog") ++
      all(Block, "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre",
        "blockquote", "figcaption", "dt", "dd", "td", "th", "caption",
        "math") ++
      all(Container, "div", "section", "article", "main", "body", "html",
        "ul", "ol", "dl", "table", "thead", "tbody", "tfoot", "tr", "center",
        "figure", "details", "summary", "address", "fieldset") ++
      all(0, "a", "abbr", "b", "bdi", "bdo", "big", "cite", "code", "data",
        "del", "dfn", "em", "font", "head", "i", "ins", "kbd", "label",
        "legend", "mark", "mi", "mn", "mo", "mrow", "nobr", "optgroup",
        "option", "picture", "q", "s", "samp", "small", "span", "strike",
        "strong", "sub", "sup", "time", "tt", "u", "var", "video", "audio",
        "canvas", "colgroup", "noframes", "output", "progress", "meter",
        "ruby", "rt", "rp", "slot", "map")
    entries.map { case (n, f) => (n, f | (if (probe(n)) ProbeBlock else 0)) }.toArray
  }

  /** Interned lower-case name of each static id. */
  val names: Array[String] = table.map(_._1)
  private val flagsOf: Array[Int] = table.map(_._2)
  /** Number of static ids. */
  val Known: Int = names.length

  @inline private[html] def lower(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  // open addressing over the name bytes' hash; slot holds id + 1, 0 = empty
  private val Bits = 8
  private val slots = new Array[Int](1 << Bits)
  private val MaxLen = names.map(_.length).max
  @inline private def slotOf(h: Int): Int = (h * 0x9E3779B9) >>> (32 - Bits)
  names.zipWithIndex.foreach { case (n, id) =>
    var h = 0
    n.foreach(c => h = h * 31 + c)
    var s = slotOf(h)
    while (slots(s) != 0) s = (s + 1) & ((1 << Bits) - 1)
    slots(s) = id + 1
  }
  require(names.distinct.length == Known, "duplicate tag in the static table")

  /** Static id of the name in `bytes` [from, until), compared ASCII
    * case-insensitively; -1 when the name is not in the table. */
  def lookup(bytes: Array[Byte], from: Int, until: Int): Int = {
    val len = until - from
    if (len <= 0 || len > MaxLen) return -1
    var h = 0
    var i = from
    while (i < until) { h = h * 31 + lower(bytes(i)); i += 1 }
    var s = slotOf(h)
    while (true) {
      val id = slots(s) - 1
      if (id < 0) return -1
      val n = names(id)
      if (n.length == len) {
        var k = 0
        while (k < len && lower(bytes(from + k)) == n.charAt(k)) k += 1
        if (k == len) return id
      }
      s = (s + 1) & ((1 << Bits) - 1)
    }
    -1
  }

  /** Static id of a lower-case name known to be in the table. */
  private def id(name: String): Int = {
    val b = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val i = lookup(b, 0, b.length)
    require(i >= 0, s"<$name> is not in the static tag table")
    i
  }

  /** Flag bits of a tag id; 0 for per-document ids and for `lookup`'s -1. */
  @inline def flags(tag: Int): Int = if (tag >= 0 && tag < Known) flagsOf(tag) else 0

  val A: Int = id("a")
  val Img: Int = id("img")
  val Table: Int = id("table")
  val Tr: Int = id("tr")
  val Td: Int = id("td")
  val Th: Int = id("th")
  val Br: Int = id("br")
  val Hr: Int = id("hr")
  val Li: Int = id("li")
  val Dt: Int = id("dt")
  val Dd: Int = id("dd")
  val Pre: Int = id("pre")
  val Figcaption: Int = id("figcaption")
  val MathTag: Int = id("math")
  val Script: Int = id("script")
  val Style: Int = id("style")
}
