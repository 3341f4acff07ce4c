package graft.html

import java.nio.charset.{Charset => JCharset, StandardCharsets}

/** DOM-walk block discovery: consumes tokenizer events, emits candidate text
  * blocks with boilerpipe-scoring inputs. The analogue of the reference's
  * box-extraction stage (/root/reference/src/processors/db_bitmap.rs:81-142):
  * flat candidate regions out of the masked detection surface, each carrying
  * the score inputs and the back-mapped source coordinates (here: byte
  * offsets into the raw html).
  */
object BlockBuilder {

  /** One candidate block, pre-classification. `cellRuns` is non-empty only
    * for captured data tables: per-cell (beginByte, endByte) for the span
    * table. `words` and `fingerprint` are taken from the emitted chars in
    * the same pass that collapses them, so the classifier never re-walks
    * `text`; tables carry 0 for both (neither the word gate nor the
    * duplicate pass reads a table). */
  final case class RawBlock(
      tag: String,
      kind: String, // title|paragraph|list_item|table
      level: Int,   // h1..h6 => 1..6, else 0
      text: String, // collapsed visible text (tables: canonical HTML)
      beginByte: Long,
      endByte: Long,
      chars: Int,        // non-whitespace visible chars
      anchorChars: Int,  // non-whitespace chars inside <a>
      dropped: Boolean,  // discovered inside a structurally-dropped subtree
      cellRuns: Array[(Long, Long)],
      words: Int,        // whitespace-delimited runs, each CJK char one word
      fingerprint: Long  // 64-bit FNV-1a over the chars of `text`
  )

  // class/id substrings that mark boilerplate containers (Readability-style
  // negative indicators)
  private val dropClassRe = java.util.regex.Pattern.compile(
    "(?:^|[\\s_-])(?:nav|menu|sidebar|banner|cookie|consent|footer|header|" +
    "breadcrumb|promo|advert|ads?|social|share|related|comments?|widget|" +
    "pagination|masthead)(?:$|[\\s_-])")

  // what an open element started, recorded on its stack entry: at most one
  // of a drop subtree, a block or an anchor
  private final val StartedNone = 0
  private final val StartedDrop = 1
  private final val StartedBlock = 2
  private final val StartedAnchor = 3

  @inline private def titleLevel(tag: String): Int =
    if (tag.length == 2 && tag.charAt(0) == 'h' &&
        tag.charAt(1) >= '1' && tag.charAt(1) <= '6') tag.charAt(1) - '0'
    else 0

  def build(html: Array[Byte], cs: JCharset): Vector[RawBlock] = {
    val out = Vector.newBuilder[RawBlock]

    final class Sink extends Tokenizer.Sink {
      // element stack: tag id and what the element started (a Started* value)
      private var stackTag = new Array[Int](64)
      private var stackStarted = new Array[Int](64)
      private var depth = 0
      private def push(tag: Int, started: Int): Unit = {
        if (depth == stackTag.length) {
          stackTag = java.util.Arrays.copyOf(stackTag, depth * 2)
          stackStarted = java.util.Arrays.copyOf(stackStarted, depth * 2)
        }
        stackTag(depth) = tag; stackStarted(depth) = started; depth += 1
      }
      private var dropDepth = 0
      private var anchorDepth = 0

      // current block accumulation
      private val buf = new CollapseBuf(256)
      private var blkTag = "body"
      private var blkKind = "paragraph"
      private var blkLevel = 0
      private var blkBegin = -1L
      private var blkEnd = -1L
      private var blkChars = 0
      private var blkAnchor = 0
      private var blkDropped = false

      /** Readability-style negative class/id indicator on a container tag. */
      private def hasDropClass(ab: Int, ae: Int): Boolean = {
        if (ae <= ab) return false
        // cheap pre-scan: most attributed tags carry no class/id at all, so
        // skip the Map-allocating Attrs.parse unless the bytes could hold
        // one (substring check — a false positive just pays the old parse)
        var mayHave = false
        var i = ab
        while (!mayHave && i < ae - 1) {
          val b = html(i) | 0x20
          if (b == 'c' && i + 4 < ae && (html(i + 1) | 0x20) == 'l' &&
            (html(i + 2) | 0x20) == 'a' && (html(i + 3) | 0x20) == 's' &&
            (html(i + 4) | 0x20) == 's') mayHave = true
          else if (b == 'i' && (html(i + 1) | 0x20) == 'd') mayHave = true
          i += 1
        }
        if (!mayHave) return false
        val attrs = Attrs.parse(html, ab, ae)
        val cls = attrs.getOrElse("class", "") + " " + attrs.getOrElse("id", "")
        cls.length > 1 && dropClassRe.matcher(cls.toLowerCase).find()
      }

      // table capture state
      private var tblDepth = 0 // >0: inside a captured data table
      private var tblNested = 0
      private var tblRows = Vector.empty[Vector[(Int, Int, Boolean, String)]]
      private var tblRow = Vector.empty[(Int, Int, Boolean, String)]
      private var tblCellBuf: CollapseBuf = null
      private var tblCellSpan: (Int, Int, Boolean) = null
      private var tblCellRuns = Vector.empty[(Long, Long)]
      private var tblCellBegin = -1L
      private var tblCellEnd = -1L
      private var tblBegin = -1L
      private var tblDroppedCtx = false

      private def flushBlock(): Unit = {
        // blkBegin >= 0 ⇔ at least one visible char was recorded; a
        // whitespace-only verbatim buffer (<pre>   </pre>) would otherwise
        // emit a block with the invalid span [-1, -1)
        if (buf.nonEmpty && blkBegin >= 0) {
          out += RawBlock(blkTag, blkKind, blkLevel, buf.result(), blkBegin, blkEnd,
            blkChars, blkAnchor, blkDropped, Array.empty, buf.words, buf.fingerprint)
        }
        buf.reset()
        blkBegin = -1L; blkEnd = -1L; blkChars = 0; blkAnchor = 0
      }

      private def startBlock(tag: Int): Unit = {
        flushBlock()
        blkTag = Tags.names(tag)
        blkLevel = titleLevel(blkTag)
        blkKind =
          if (blkLevel > 0) "title"
          else if (tag == Tags.Li || tag == Tags.Dt || tag == Tags.Dd) "list_item"
          else if (tag == Tags.Pre) "preformatted"
          else if (tag == Tags.Figcaption) "caption" // rendered *text* (structure.rs:337-343)
          else if (tag == Tags.MathTag) "formula"    // rendered $$text$$ (structure.rs:310-316)
          else "paragraph"
        buf.verbatim = tag == Tags.Pre
        blkDropped = dropDepth > 0
      }

      private def flushTableCell(): Unit = {
        if (tblCellBuf != null) {
          tblRow :+= ((tblCellSpan._1, tblCellSpan._2, tblCellSpan._3, tblCellBuf.result()))
          if (tblCellBegin >= 0) tblCellRuns :+= ((tblCellBegin, tblCellEnd))
          tblCellBuf = null; tblCellSpan = null; tblCellBegin = -1L; tblCellEnd = -1L
        }
      }

      private def flushTableRow(): Unit = {
        flushTableCell()
        if (tblRow.nonEmpty) { tblRows :+= tblRow; tblRow = Vector.empty }
      }

      private def finishTable(endByte: Long): Unit = {
        flushTableRow()
        if (tblRows.nonEmpty) {
          val grid = TableGrid.resolve(tblRows)
          val htmlText = TableGrid.render(grid)
          val nonWs = htmlText.count(c => !c.isWhitespace)
          // endByte is approximated by the last text end, which predates
          // tblBegin when the table captured cells but no text (e.g. a bare
          // <table><tr><td> at end of input) — clamp so the span stays a
          // valid [begin, end) range
          out += RawBlock("table", "table", 0, htmlText, tblBegin,
            math.max(tblBegin, endByte),
            nonWs, 0, tblDroppedCtx, tblCellRuns.toArray, words = 0, fingerprint = 0L)
        }
        tblDepth = 0; tblNested = 0; tblRows = Vector.empty; tblRow = Vector.empty
        tblCellRuns = Vector.empty; tblBegin = -1L
      }

      override def startTag(tag: Int, ab: Int, ae: Int, selfClosing: Boolean): Unit = {
        val flags = Tags.flags(tag)
        if (tblDepth > 0) {
          // self-closing: no stack entry will ever pop it — counting it
          // would make the capture's own </table> decrement tblNested
          // instead of finishing, losing the rest of the document
          if (tag == Tags.Table && !selfClosing) tblNested += 1
          else if (tag == Tags.Tr && tblNested == 0) flushTableRow()
          else if ((tag == Tags.Td || tag == Tags.Th) && tblNested == 0) {
            flushTableCell()
            val attrs = Attrs.parse(html, ab, ae)
            tblCellSpan = (Attrs.intAttr(attrs, "rowspan", 1),
              Attrs.intAttr(attrs, "colspan", 1), tag == Tags.Th)
            tblCellBuf = new CollapseBuf(32)
          }
          // line/block boundaries inside a cell separate words the same
          // way they do in normal flow ('123 Main St<br>Springfield' must
          // not fuse to 'StSpringfield'); inside a NESTED table (whose
          // text flattens into the enclosing cell, below) the nested
          // tr/td boundaries separate the same way
          else if (tblCellBuf != null &&
            (tag == Tags.Br || tag == Tags.Hr || tag == Tags.Tr ||
              tag == Tags.Td || tag == Tags.Th ||
              (flags & (Tags.Block | Tags.Container)) != 0))
            tblCellBuf.wsHint()
          if (!selfClosing) push(tag, StartedNone)
          return
        }

        var started = StartedNone

        if ((flags & Tags.Drop) != 0) {
          flushBlock()
          dropDepth += 1; started = StartedDrop
        } else if ((flags & (Tags.Container | Tags.Block)) != 0 && hasDropClass(ab, ae)) {
          flushBlock()
          dropDepth += 1; started = StartedDrop
        }
        val startedDrop = started == StartedDrop
        // bare text directly inside the drop subtree (no intervening block/
        // container tag to reset the state) must accumulate as DROPPED —
        // without this it kept the enclosing block's dropped=false and
        // boilerplate leaked into content (fusing with following text when
        // the drop tag is not a container)
        if (startedDrop) blkDropped = true

        if (!startedDrop) {
          if (tag == Tags.Table) {
            val attrs = Attrs.parse(html, ab, ae)
            // "wired" table: explicitly marked data (border attr / ARIA role);
            // "wireless": CSS-styled data table detected structurally by the
            // forward probe (th density + regular rows, no block content) —
            // the analogue of the reference's wired/wireless/unknown
            // classification (/root/reference/src/oarocr/table_analyzer.rs:177-198)
            val isData = attrs.contains("border") ||
              attrs.get("role").exists(_.equalsIgnoreCase("table")) ||
              probeDataTable(html, ae)
            // a self-closing <table/> contains nothing: entering capture
            // would have no stack entry to ever finish it, and every byte
            // after it would be silently swallowed by the capture branch
            if (isData && !selfClosing) {
              flushBlock()
              tblDepth = 1
              tblDroppedCtx = dropDepth > 0
              tblBegin = ab.toLong
              push(tag, StartedNone)
              return
            } else {
              flushBlock() // layout table / contentless self-closing table
            }
          } else if (tag == Tags.A) {
            anchorDepth += 1; started = StartedAnchor
          } else if (tag == Tags.Img) {
            // figure harvesting: an <img> with non-empty alt is a standalone
            // figure element whose caption is the alt text — the domain
            // analogue of the reference's Image/Chart layout element rendered
            // ![Figure](caption) (/root/reference/src/domain/structure.rs:318-326).
            // Alt-less images carry no text and are ignored.
            val attrs = Attrs.parse(html, ab, ae, cs)
            val alt = attrs.getOrElse("alt", "")
            if (alt.nonEmpty) {
              val cb = new CollapseBuf(32)
              val nonWs = cb.putRun(alt) // entity-decode + ws-collapse
              if (nonWs > 0) {
                flushBlock()
                out += RawBlock("img", "figure", 0, cb.result(), ab.toLong,
                  ae.toLong, nonWs, 0, dropDepth > 0, Array.empty, cb.words, cb.fingerprint)
              }
            }
          } else if ((flags & Tags.Block) != 0) {
            startBlock(tag); started = StartedBlock
          } else if ((flags & Tags.Container) != 0) {
            if (blkKind == "preformatted") {
              // block content inside <pre> is invalid HTML that browsers
              // render as part of the pre: keep verbatim mode and the
              // preformatted kind; the container's text flows through
              flushBlock()
            } else {
              flushBlock()
              blkTag = Tags.names(tag); blkKind = "paragraph"; blkLevel = 0
              buf.verbatim = false
              blkDropped = dropDepth > 0
            }
          } else if (tag == Tags.Br || tag == Tags.Hr) {
            buf.wsHint()
            if (tag == Tags.Hr) flushBlock()
          }
          // other inline tags: text flows through
        }
        if (!selfClosing) push(tag, started)
        else {
          // a self-closing element CONTAINS nothing, and with no stack entry
          // its depth increments would never be undone — real crawled HTML
          // hits this constantly via unquoted attribute values ending in '/'
          // (<a href=http://x.com/>), which the tokenizer marks self-closing;
          // a leaked anchorDepth counts every later char as link text and a
          // leaked dropDepth drops the entire rest of the document
          if (startedDrop) { dropDepth -= 1; blkDropped = dropDepth > 0 }
          if (started == StartedAnchor) anchorDepth = math.max(0, anchorDepth - 1)
        }
      }

      override def endTag(tag: Int): Unit = {
        // pop to nearest matching open element; ignore stray end tags
        var i = depth - 1
        while (i >= 0 && stackTag(i) != tag) i -= 1
        if (i < 0) return
        // unwind everything above (implicitly closed malformed elements)
        while (depth > i) {
          depth -= 1
          val nm = stackTag(depth)
          val started = stackStarted(depth)
          if (started == StartedDrop) {
            // the drop subtree's own bare text flushes AS dropped here —
            // buffered drop text must not fuse (undropped) with whatever
            // follows the closing tag
            flushBlock()
            dropDepth -= 1
            blkDropped = dropDepth > 0
          }
          if (started == StartedAnchor) anchorDepth = math.max(0, anchorDepth - 1)
          if (tblDepth > 0) {
            if (nm == Tags.Table) {
              // finish the capture whenever the captured table's element is
              // popped — even implicitly by a stray end tag below it
              if (tblNested > 0) tblNested -= 1
              else finishTable(endOfCurrentTag())
            } else if (nm == Tags.Tr && tblNested == 0) flushTableRow()
            else if ((nm == Tags.Td || nm == Tags.Th) && tblNested == 0) flushTableCell()
          } else if (started == StartedBlock) {
            flushBlock()
            blkTag = "body"; blkKind = "paragraph"; blkLevel = 0
            buf.verbatim = false
            blkDropped = dropDepth > 0
          } else if ((Tags.flags(nm) & Tags.Container) != 0) {
            flushBlock()
            blkDropped = dropDepth > 0
          }
        }
      }

      // byte offset just past the current end tag — approximated by the last
      // text end; precise table end byte is refined by the caller if needed
      private var lastTextEnd = 0L
      private def endOfCurrentTag(): Long = lastTextEnd

      override def text(begin: Int, end: Int): Unit = {
        lastTextEnd = end.toLong
        if (tblDepth > 0) {
          // tblNested > 0 included: a nested table's text FLATTENS into the
          // enclosing cell (browsers render it; silently discarding it lost
          // real content from bordered tables) — the wsHint on nested
          // tr/td/table boundaries above keeps its words separated
          if (tblCellBuf != null) {
            val nonWs = tblCellBuf.putRunBytes(html, begin, end, cs)
            if (nonWs > 0) {
              if (tblCellBegin < 0) tblCellBegin = begin.toLong
              tblCellEnd = end.toLong
            }
          }
          return
        }
        // single fused pass: ASCII bytes append directly, everything else
        // charset-decodes once, then entity-decode + whitespace-collapse +
        // char accounting in one sweep into the block buffer (no synthetic
        // inter-run space: HTML whitespace semantics — inline tags
        // (<b>wo</b>rd) must not split words; source ws decides)
        val nonWs = buf.putRunBytes(html, begin, end, cs)
        if (nonWs > 0) {
          if (blkBegin < 0) blkBegin = begin.toLong
          blkEnd = end.toLong
          blkChars += nonWs
          if (anchorDepth > 0) blkAnchor += nonWs
        }
      }

      def finish(): Unit = {
        if (tblDepth > 0) finishTable(lastTextEnd)
        flushBlock()
      }
    }

    val sink = new Sink
    Tokenizer.tokenize(html, sink)
    sink.finish()
    out.result()
  }

  /** Forward probe from just past a `<table>` open tag: is this a CSS-styled
    * DATA table (no border attr / role) rather than a layout table?
    *
    * Wireless criteria (mirroring the reference's wireless-table class,
    * /root/reference/src/oarocr/table_analyzer.rs:177-198): at least 2 header
    * cells and 2 rows, and the table's own level contains no nested table and
    * no block-level content (div/p/ul/h*) — block content inside cells is the
    * signature of page-layout tables. Scan is capped at 64 KB; a table bigger
    * than that without resolving is treated as layout (safe default).
    */
  private[html] def probeDataTable(html: Array[Byte], from: Int): Boolean = {
    val limit = math.min(html.length, from + 64 * 1024)
    var i = from
    var th = 0
    var tr = 0
    @inline def lower(b: Byte): Char =
      (if (b >= 'A' && b <= 'Z') b + 32 else b.toInt).toChar
    while (i < limit) {
      if (html(i) == '<') {
        // masked constructs the real tokenizer skips must not fool the probe:
        // comments and raw-text elements (script/style) are skipped wholesale
        if (i + 3 < limit && html(i + 1) == '!' && html(i + 2) == '-' && html(i + 3) == '-') {
          var j = i + 4
          while (j + 2 < limit && !(html(j) == '-' && html(j + 1) == '-' && html(j + 2) == '>')) j += 1
          i = if (j + 2 < limit) j + 2 else limit
        } else {
        var j = i + 1
        val closing = j < limit && html(j) == '/'
        if (closing) j += 1
        val ns = j
        while (j < limit && ((html(j) >= 'a' && html(j) <= 'z') ||
          (html(j) >= 'A' && html(j) <= 'Z') || (html(j) >= '0' && html(j) <= '9'))) j += 1
        if (j > ns) {
          val tag = Tags.lookup(html, ns, j) // -1: a name the probe ignores
          val rawText = !closing && (tag == Tags.Script || tag == Tags.Style)
          // quote-aware end of THIS tag: markup inside quoted attribute
          // values (onclick="show('<div>')") must not be parsed as tags by
          // the probe — the real tokenizer honors quotes, so a probe that
          // does not would mis-classify tables the tokenizer handles fine
          var tagEnd = limit
          var q: Int = 0
          var k2 = j
          while (k2 < limit && tagEnd == limit) {
            val d = html(k2)
            if (q != 0) { if (d == q) q = 0 }
            else if (d == '"' || d == '\'') q = d
            else if (d == '>') tagEnd = k2
            k2 += 1
          }
          if (tag == Tags.Table) {
            // the probed table's own close: verdict on what was seen; an
            // OPENING table first means a nested table — the page-layout
            // signature, never a data table (so no depth tracking needed:
            // the scan ends at the first table tag either way)
            if (closing) return th >= 2 && tr >= 2
            return false
          } else if (rawText) {
            // raw-text element: skip to its close tag (case-insensitive)
            val name = Tags.names(tag)
            var k = j
            var done = false
            while (!done && k + name.length + 2 < limit) {
              if (html(k) == '<' && html(k + 1) == '/' && {
                var m = 0
                var eq = true
                while (eq && m < name.length) {
                  if (lower(html(k + 2 + m)) != name.charAt(m)) eq = false
                  m += 1
                }
                eq
              }) done = true
              else k += 1
            }
            i = if (done) k else limit
          } else if (!closing) {
            if (tag == Tags.Th) th += 1
            else if (tag == Tags.Tr) tr += 1
            else if ((Tags.flags(tag) & Tags.ProbeBlock) != 0) return false
          }
          // resume past the tag's quote-aware '>' (script/style set their
          // own raw-text skip target above; don't walk it back)
          if (tag != Tags.Script && tag != Tags.Style) i = math.max(i, tagEnd)
        }
        }
      }
      i += 1
    }
    false // unterminated / oversized: layout (safe default)
  }

  /** `Character.isWhitespace` on 0..127: 0x09-0x0D and 0x1C-0x20. */
  private val AsciiWs: Array[Boolean] = Array.tabulate(128)(c =>
    (c >= 0x09 && c <= 0x0D) || (c >= 0x1C && c <= 0x20))

  /** Collapsible whitespace: Java whitespace plus NBSP. */
  @inline private def isWs(c: Char): Boolean =
    if (c < 128) AsciiWs(c) else c == '\u00a0' || Character.isWhitespace(c)

  private final val FpSeed = 0xcbf29ce484222325L
  private final val FpPrime = 0x100000001b3L

  /** Whitespace-collapsing accumulator with fused entity decoding — the hot
    * path writes each visible char exactly once into a growable char array
    * (no intermediate entity-decoded or pre-collapse strings; those copies
    * dominated allocation in profiling). Leading/trailing ws dropped, runs
    * fold to one space.
    *
    * The same pass keeps, over the chars emitted since the last `reset`:
    *   - `words`: whitespace-delimited runs (Java whitespace), each CJK char
    *     one word — the reference's CJK-aware segmentation
    *     (reference src/oarocr/ocr.rs:988-995);
    *   - `fingerprint`: 64-bit FNV-1a over the UTF-16 chars, for the
    *     classifier's duplicate pass. */
  private[html] final class CollapseBuf(cap: Int) {
    private var buf = new Array[Char](math.max(cap, 16))
    private var len = 0
    private var pendingSpace = false
    private var inWord = false
    private var nWords = 0
    private var fp = FpSeed
    private var nonWs = 0 // non-ws chars put since construction
    /** verbatim mode (<pre>): whitespace preserved exactly — the reference
      * keeps special-content blocks raw
      * (/root/reference/src/domain/structure.rs:310-316). */
    var verbatim = false
    // verbatim survives reset(): the mode belongs to the CURRENT block tag,
    // which outlives a mid-block flush (an <hr> or nested container inside
    // <pre> must not flip the rest of the pre to collapsed whitespace);
    // every blkTag (re)assignment site sets it explicitly
    def reset(): Unit = {
      len = 0; pendingSpace = false; inWord = false; nWords = 0; fp = FpSeed
    }
    /** a soft word-break (e.g. <br>): collapses like source whitespace */
    def wsHint(): Unit = if (len > 0) pendingSpace = true
    def nonEmpty: Boolean = len > 0
    def result(): String = new String(buf, 0, len)
    def words: Int = nWords
    def fingerprint: Long = fp

    /** Room for `n` more chars plus a pending space: one check per run. A
      * run never emits more chars than it has bytes or chars, since every
      * entity is longer than its replacement. */
    private def ensure(n: Int): Unit =
      if (len + n + 1 > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n + 1))

    /** Emit one char (capacity already ensured). */
    private def put(c: Char): Unit = {
      val ws = isWs(c)
      if (!ws) nonWs += 1
      if (verbatim) {
        buf(len) = c; len += 1; fp = (fp ^ c) * FpPrime
        if (c >= 0x3040 && graft.score.Classifier.isCjk(c)) { nWords += 1; inWord = false }
        // NBSP is kept here but is not Java whitespace: it is part of a word
        else if (if (c < 128) ws else Character.isWhitespace(c)) inWord = false
        else if (!inWord) { nWords += 1; inWord = true }
      } else if (ws) { if (len > 0) pendingSpace = true }
      else {
        if (pendingSpace) {
          buf(len) = ' '; len += 1; fp = (fp ^ ' ') * FpPrime
          pendingSpace = false; inWord = false
        }
        buf(len) = c; len += 1; fp = (fp ^ c) * FpPrime
        if (c >= 0x3040 && graft.score.Classifier.isCjk(c)) { nWords += 1; inWord = false }
        else if (!inWord) { nWords += 1; inWord = true }
      }
    }

    /** Appends a run of raw bytes; returns the non-ws chars appended.
      *
      * UTF-8, US-ASCII and windows-1252 are all ASCII-transparent, so ASCII
      * bytes append directly with one table lookup each (the dominant case on
      * web text). Entities whose body is ASCII, and, for UTF-8, well-formed
      * multi-byte sequences, decode in place. Anything else (a malformed or
      * non-UTF-8 high byte, a high byte inside an entity's window) decodes
      * the remainder of the run once and takes the String path, so the
      * result always equals `putRun(Charset.decode(...))` of the run. */
    def putRunBytes(html: Array[Byte], begin: Int, end: Int,
        cs: java.nio.charset.Charset): Int = {
      if (!Charset.asciiTransparent(cs))
        return putRun(Charset.decode(html, begin, end, cs))
      ensure(end - begin)
      val before = nonWs
      val utf8 = cs eq StandardCharsets.UTF_8
      var i = putAscii(html, begin, end)
      while (i < end) {
        val next =
          if (html(i) == '&') putEntity(html, i, end)
          else if (utf8) putUtf8(html, i, end)
          else -1
        if (next < 0) {
          putRun(Charset.decode(html, i, end, cs))
          i = end
        } else i = putAscii(html, next, end)
      }
      nonWs - before
    }

    /** Appends ASCII bytes from `begin` up to the first '&', high byte or
      * `end`; returns where it stopped. The loop state lives in locals. */
    private def putAscii(html: Array[Byte], begin: Int, end: Int): Int = {
      val a = buf
      var l = len
      var pend = pendingSpace
      var inW = inWord
      var w = nWords
      var h = fp
      var n = nonWs
      var i = begin
      var b: Byte = 0
      if (verbatim) {
        while (i < end && { b = html(i); b >= 0 && b != '&' }) {
          val c = b.toChar
          a(l) = c; l += 1; h = (h ^ c) * FpPrime
          if (AsciiWs(b)) inW = false
          else { n += 1; if (!inW) { w += 1; inW = true } }
          i += 1
        }
      } else {
        while (i < end && { b = html(i); b >= 0 && b != '&' }) {
          if (AsciiWs(b)) { if (l > 0) pend = true }
          else {
            if (pend) { a(l) = ' '; l += 1; h = (h ^ ' ') * FpPrime; pend = false; inW = false }
            val c = b.toChar
            a(l) = c; l += 1; h = (h ^ c) * FpPrime
            n += 1
            if (!inW) { w += 1; inW = true }
          }
          i += 1
        }
      }
      len = l; pendingSpace = pend; inWord = inW; nWords = w; fp = h; nonWs = n
      i
    }

    /** The entity or literal '&' at `amp`, decided as `Entities.matchAt`
      * decides it on the decoded run; returns the index after it, or -1 when
      * a high byte inside the window leaves that to the String path. */
    private def putEntity(html: Array[Byte], amp: Int, end: Int): Int = {
      val limit = math.min(end, amp + Entities.MaxLen + 2)
      var k = amp + 1
      while (k < limit && html(k) != ';') {
        if (html(k) < 0) return -1
        k += 1
      }
      val rep =
        if (k < limit) Entities.replacement(new String(html, amp + 1, k - amp - 1, StandardCharsets.ISO_8859_1))
        else null
      if (rep == null) { put('&'); amp + 1 }
      else {
        var j = 0
        while (j < rep.length) { put(rep.charAt(j)); j += 1 }
        k + 1
      }
    }

    /** The well-formed UTF-8 sequence at `i`; returns the index after it,
      * or -1 when the bytes there are not one (the decoder's replacement
      * rules then apply, on the String path). */
    private def putUtf8(html: Array[Byte], i: Int, end: Int): Int = {
      @inline def cont(k: Int): Int =
        if (k < end && (html(k) & 0xc0) == 0x80) html(k) & 0x3f else -1
      val b0 = html(i) & 0xff
      if (b0 >= 0xc2 && b0 <= 0xdf) {
        val c1 = cont(i + 1)
        if (c1 < 0) -1 else { put(((b0 & 0x1f) << 6 | c1).toChar); i + 2 }
      } else if (b0 >= 0xe0 && b0 <= 0xef) {
        val c1 = cont(i + 1); val c2 = cont(i + 2)
        val cp = (b0 & 0x0f) << 12 | c1 << 6 | c2
        if (c1 < 0 || c2 < 0 || cp < 0x800 || (cp >= 0xd800 && cp <= 0xdfff)) -1
        else { put(cp.toChar); i + 3 }
      } else if (b0 >= 0xf0 && b0 <= 0xf4) {
        val c1 = cont(i + 1); val c2 = cont(i + 2); val c3 = cont(i + 3)
        val cp = (b0 & 0x07) << 18 | c1 << 12 | c2 << 6 | c3
        if (c1 < 0 || c2 < 0 || c3 < 0 || cp < 0x10000 || cp > 0x10ffff) -1
        else { put(Character.highSurrogate(cp)); put(Character.lowSurrogate(cp)); i + 4 }
      } else -1
    }

    /** Append a decoded-charset run, decoding entities inline; returns the
      * number of non-whitespace chars appended (anchor/char accounting). */
    def putRun(s: String): Int = {
      val n = s.length
      ensure(n)
      val before = nonWs
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        val m = if (c == '&') Entities.matchAt(s, i) else null
        if (m != null) {
          val rep = m._1
          var k = 0
          while (k < rep.length) { put(rep.charAt(k)); k += 1 }
          i += m._2
        } else {
          put(c)
          i += 1
        }
      }
      nonWs - before
    }
  }

}
