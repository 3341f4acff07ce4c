package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html._
import graft.assemble.TitleLevel
import graft.geom.Box
import graft.score.Classifier
import graft.model.Page
import graft.Extractor
import java.nio.charset.StandardCharsets

/** Hand-computed kernel tests, ported from the reference's inline unit tests
  * (SURVEY.md §5) plus our own extraction-domain vectors. */
class KernelSpec extends AnyFunSuite {

  private def blocksOf(html: String) =
    BlockBuilder.build(html.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8)

  test("entities: named, numeric, unknown pass-through") {
    def decode(s: String): String = blocksOf(s"<p>$s</p>").map(_.text).mkString
    assert(decode("a &amp; b") == "a & b")
    assert(decode("&#65;&#x42;") == "AB")
    assert(decode("&#x4E2D;") == "中")
    assert(decode("&bogus; &amp") == "&bogus; &amp")
    assert(decode("no entities") == "no entities")
    assert(decode("&quot;q&quot;") == "\"q\"")
  }

  test("tokenizer: masks script/style/template content") {
    val bs = blocksOf(
      "<body><script>var x = '<p>hi</p>';</script><style>p>a{}</style><p>real content words here now</p></body>")
    assert(bs.map(_.text) == Vector("real content words here now"))
  }

  test("pre: verbatim mode survives a mid-block flush (hr inside pre)") {
    val bs = blocksOf("<pre>line  one\n<hr>line  two\n   indented</pre>")
    // both halves keep exact whitespace; the hr only splits the block
    assert(bs.map(_.text) == Vector("line  one\n", "line  two\n   indented"))
    assert(bs.forall(_.kind == "preformatted"))
  }

  test("figure harvesting: img alt becomes a figure block, entity-decoded; alt-less ignored") {
    val bs = blocksOf("<p>before text here now</p><img src=\"/a.png\" alt=\"a fish &amp; chips shot\">" +
      "<img src=\"/spacer.gif\"><figcaption>the caption words</figcaption>")
    assert(bs.map(b => (b.kind, b.text)) == Vector(
      ("paragraph", "before text here now"),
      ("figure", "a fish & chips shot"),
      ("caption", "the caption words")))
  }

  test("formula: math subtree collapses to a formula block") {
    val bs = blocksOf("<math><mi>x</mi><mo>=</mo><mn>4</mn><mo>+</mo><mn>2</mn></math>")
    assert(bs.map(b => (b.kind, b.text)) == Vector(("formula", "x=4+2")))
  }

  test("pre: nested container does not clear verbatim; kind stays preformatted") {
    val bs = blocksOf("<pre>line  one\n<div>note</div>  indented\n  code</pre>")
    assert(bs.forall(_.kind == "preformatted"), bs.map(b => (b.kind, b.text)).toString)
    // whitespace after the div close is preserved exactly
    assert(bs.last.text == "  indented\n  code")
  }

  test("probe ignores comments and script content when classifying tables") {
    // th markup inside a comment must not promote a layout table to data
    val commented = blocksOf("<table><!-- <th>a</th><th>b</th><tr></tr> -->" +
      "<tr><td>left col words</td><td>right col words</td></tr></table>")
    assert(!commented.exists(_.kind == "table"))
    // block markup inside script must not demote a real data table
    val scripted = blocksOf("<table class=\"g\"><script>var x = '<div>';</script>" +
      "<tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>")
    assert(scripted.exists(_.kind == "table"))
  }

  test("wireless table probe: th-density data table captured; layout tables not") {
    // CSS-styled data table: 2 th + 2 rows, no border attr
    val data = blocksOf("<table class=\"grid\"><tr><th>a</th><th>b</th></tr>" +
      "<tr><td>1</td><td>2</td></tr></table>")
    assert(data.exists(_.kind == "table"), "wireless data table not captured")
    // layout table: td-only single row
    val layout = blocksOf("<table><tr><td>left col words</td><td>right col words</td></tr></table>")
    assert(!layout.exists(_.kind == "table"))
    // block content inside => layout even with th
    val pageLayout = blocksOf("<table><tr><th>x</th><th>y</th></tr>" +
      "<tr><td><div>whole page content</div></td><td>z</td></tr></table>")
    assert(!pageLayout.exists(_.kind == "table"))
  }

  test("renderHtml/renderJson: semantic tags, grouped lists, escaped text, span coords") {
    import graft.score.Classifier
    import graft.assemble.Assembler
    val raws = blocksOf("<h1>The Title</h1><p>body words here with \"quotes\" & more</p>" +
      "<ul><li>item one here</li><li>item two here</li></ul>")
    val blocks = Classifier.classify(raws)
    val html = Assembler.renderHtml(blocks)
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("<h1>The Title</h1>"))
    assert(html.contains("<p>body words here with &quot;quotes&quot; &amp; more</p>"))
    assert(html.contains("<ul>\n<li>item one here</li>\n<li>item two here</li>\n</ul>"))
    val json = Assembler.renderJson(blocks, Assembler.spans(raws, blocks))
    assert(json.contains("\"kind\":\"title\"") && json.contains("\"begin_byte\":"))
    // the JSON must parse: balanced quotes/braces via a naive scan
    assert(json.count(_ == '{') == json.count(_ == '}'))
  }

  test("cell reconcile: fill, exact match, and compress merge") {
    import graft.geom.{Box, Cells}
    val struct = Vector(Box(0, 0, 10, 10), Box(10, 0, 20, 10), Box(20, 0, 30, 10))
    // no detections: fill keeps structure boxes
    assert(Cells.reconcile(struct, Vector.empty) == struct)
    // one precise detection per structure cell: detected geometry wins
    val det = Vector(Box(0.5, 0.2, 9.5, 9.8), Box(10.5, 0.1, 19.5, 9.9))
    val rec = Cells.reconcile(struct, det)
    assert(rec(0) == det(0) && rec(1) == det(1) && rec(2) == struct(2))
    // two detections inside one structure cell: union merge (compress)
    val det2 = Vector(Box(1, 1, 5, 9), Box(6, 1, 9, 9))
    val rec2 = Cells.reconcile(Vector(Box(0, 0, 10, 10)), det2)
    assert(rec2 == Vector(Box(1, 1, 9, 9)))
  }

  test("kmeans rectangle combine: clusters well-separated boxes; identity when target >= n") {
    import graft.geom.{Box, Cells}
    val rects = Vector(Box(0, 0, 4, 4), Box(5, 0, 9, 4), Box(100, 0, 104, 4), Box(105, 0, 109, 4))
    assert(Cells.combineRectanglesKmeans(rects, 4) == rects)
    val two = Cells.combineRectanglesKmeans(rects, 2)
    assert(two.toSet == Set(Box(0, 0, 9, 4), Box(100, 0, 109, 4)))
  }

  test("text regions: two columns group left to right, each column's lines top-down") {
    import graft.pdf.PdfParser.{TextBox, textRegions}
    // col1: (0..80), col2: (200..280); two lines each, a 10 px line gap
    def tb(x: Double, y: Double, t: String) = TextBox(Box(x, y, x + 80, y + 12), t, 0, 0)
    val regions = textRegions(Vector(
      tb(200, 40, "c2l1"), tb(0, 40, "c1l1"), tb(0, 62, "c1l2"), tb(200, 62, "c2l2")))
    assert(regions.map(_.map(_.text)) == Vector(Vector("c1l1", "c1l2"), Vector("c2l1", "c2l2")))
  }

  test("sort-and-join: same-line tolerance joins with space (reference test vector)") {
    import graft.geom.Box
    import graft.pdf.PdfParser.{TextBox, sortAndJoin}
    // mirror of /root/reference/src/oarocr/stitching.rs test_sort_and_join_texts_tolerance
    val a = TextBox(Box(0, 0, 10, 10), "A", 0, 1)
    val b = TextBox(Box(12, 1, 20, 11), "B", 1, 2)
    val (txt, _) = sortAndJoin(Vector(b, a), Box(0, 0, 20, 11))
    assert(txt == "A B")
  }

  test("sort-and-join: soft wrap vs hard break by 30% right gap") {
    import graft.geom.Box
    import graft.pdf.PdfParser.{TextBox, sortAndJoin}
    val container = Box(0, 0, 100, 60)
    // line 1 fills to the right edge -> soft wrap; line 2 ends at 40% -> hard break
    val l1 = TextBox(Box(0, 0, 100, 12), "alpha", 0, 1)
    val l2 = TextBox(Box(0, 22, 40, 34), "beta", 1, 2)
    val l3 = TextBox(Box(0, 44, 100, 56), "gamma", 2, 3)
    val (txt, used) = sortAndJoin(Vector(l3, l1, l2), container)
    assert(txt == "alpha beta\ngamma")
    assert(used.map(_.text) == Vector("alpha", "beta", "gamma"))
    // CJK ending: no space on soft wrap
    val c1 = TextBox(Box(0, 0, 100, 12), "中文", 0, 1)
    val c2 = TextBox(Box(0, 22, 100, 34), "后续", 1, 2)
    assert(sortAndJoin(Vector(c1, c2), container)._1 == "中文后续")
  }

  test("sort-and-join: zero-height boxes fall back to the flat same-line tolerance") {
    import graft.geom.Box
    import graft.pdf.PdfParser.{TextBox, sortAndJoin}
    // h=0 producers: 0.5 px of cy jitter is one visual line. The right-hand
    // fragment sits higher, so a per-fragment line split would read it first
    val right = TextBox(Box(40, 100, 70, 100), "right", 0, 1)
    val left = TextBox(Box(0, 100.5, 30, 100.5), "left", 1, 2)
    val (txt, used) = sortAndJoin(Vector(right, left), Box(0, 100, 70, 100.5))
    assert(txt == "left right")
    assert(used.map(_.text) == Vector("left", "right"))
    // a line further away than the flat tolerance is still its own line
    val below = TextBox(Box(0, 120, 70, 120), "below", 2, 3)
    assert(sortAndJoin(Vector(right, left, below), Box(0, 100, 200, 120))._1
      .endsWith("\nbelow"))
  }

  test("RTL lines read right-to-left; duplicate long text suppressed once") {
    import graft.geom.Box
    import graft.pdf.PdfParser.{TextBox, sortAndJoin}
    // two Arabic fragments on one line: reading order is right box first
    val left = TextBox(Box(0, 0, 40, 12), "لمن", 0, 1)
    val right = TextBox(Box(50, 0, 90, 12), "ابت", 1, 2)
    val (txt, used) = sortAndJoin(Vector(left, right), Box(0, 0, 90, 12))
    assert(txt == "ابتلمن")
    assert(used.map(_.beginByte) == Vector(1L, 0L))
    // latin fragments on one line stay left-to-right
    val a = TextBox(Box(0, 0, 40, 12), "first", 0, 1)
    val b = TextBox(Box(50, 0, 90, 12), "second", 1, 2)
    assert(sortAndJoin(Vector(b, a), Box(0, 0, 90, 12))._1 == "first second")
    // duplicate-content suppression in the HTML classifier
    import graft.score.Classifier
    val para = "these fifteen content words repeat verbatim later in the very same document body tree"
    val blocks = Classifier.classify(blocksOf(s"<p>$para</p><div><p>$para</p></div>"))
    assert(blocks.count(_.keep) == 1)
    // short repeats are untouched
    val short = Classifier.classify(blocksOf("<ul><li>yes ok fine</li><li>yes ok fine</li></ul>"))
    assert(short.count(_.keep) == 2)
  }

  test("unclip widens around center; overlap removal drops vision vs text and smaller vs bigger") {
    import graft.geom.{Box, Geom, LayoutSort}
    import graft.geom.LayoutSort._
    assert(Geom.unclip(Box(10, 10, 30, 20), 1.5, 2.0) == Box(5, 5, 35, 25))
    val text = Sortable(Box(0, 0, 100, 50), NormalText, 0)
    val fig = Sortable(Box(10, 5, 90, 45), Vision, 1)     // inside text: dropped (text priority)
    val small = Sortable(Box(0, 60, 20, 70), NormalText, 2)
    val big = Sortable(Box(0, 58, 80, 74), NormalText, 3) // contains small: small dropped
    val far = Sortable(Box(0, 200, 50, 220), Vision, 4)
    val out = LayoutSort.removeOverlaps(Vector(text, fig, small, big, far)).map(_.payload)
    assert(out == Vector(0, 3, 4))
  }

  test("nms-with-merge unions double-fired detections; cross-cell boxes split proportionally") {
    import graft.geom.{Box, Cells}
    import graft.pdf.PdfParser.{TextBox, splitAcrossCells}
    // two detections on one cell merge; the distinct cell survives alone
    val merged = Cells.nmsWithMerge(Vector(
      Box(0, 0, 10, 10), Box(1, 1, 11, 10), Box(50, 0, 60, 10)))
    assert(merged == Vector(Box(0, 0, 11, 10), Box(50, 0, 60, 10)))
    // a box spanning two cells evenly splits its text at the midpoint, with
    // exact per-fragment byte offsets
    val cells = Vector(Box(0, 0, 50, 20), Box(50, 0, 100, 20))
    val tb = TextBox(Box(10, 5, 90, 15), "abcdefgh", 100, 108)
    val frags = splitAcrossCells(tb, cells)
    assert(frags.map(_.text) == Vector("abcd", "efgh"))
    assert(frags.map(f => (f.beginByte, f.endByte)) == Vector((100L, 104L), (104L, 108L)))
    // a box 90% inside one cell is NOT split
    val inside = TextBox(Box(2, 5, 48, 15), "kept", 0, 4)
    assert(splitAcrossCells(inside, cells).map(_.text) == Vector("kept"))
    // NON-UTF-8 coordinate space (byte range wider than the text's UTF-8
    // form — escaped literals, WinAnsi, CID hex): fragments carry the
    // parent's full COVERING range, never prefix math that would overshoot
    val rawSpace = TextBox(Box(10, 5, 90, 15), "abcdefgh", 100, 112) // 12 raw bytes, 8 utf-8
    val covered = splitAcrossCells(rawSpace, cells)
    assert(covered.map(_.text) == Vector("abcd", "efgh"))
    assert(covered.forall(f => f.beginByte == 100L && f.endByte == 112L),
      covered.map(f => (f.beginByte, f.endByte)).toString)
  }

  test("enhanced layout order: titles and figures insert at their y position") {
    import graft.geom.{Box, LayoutSort}
    import graft.geom.LayoutSort._
    val r1 = Sortable(Box(10, 100, 590, 180), NormalText, 0)
    val r2 = Sortable(Box(10, 300, 590, 380), NormalText, 1)
    val doc = Sortable(Box(10, 40, 590, 56), DocTitle, 2)
    val fig = Sortable(Box(10, 210, 590, 270), Vision, 3)
    val hdr = Sortable(Box(10, 8, 590, 18), NormalText, 4)
    val ftr = Sortable(Box(10, 780, 590, 792), NormalText, 5)
    val out = LayoutSort.enhancedOrder(Vector(hdr), Vector(ftr), Vector(r1, r2), Vector(doc, fig))
    assert(out.map(_.payload) == Vector(4, 2, 0, 3, 1, 5))
  }

  test("tokenizer: comments, doctype, PI skipped; literal < kept") {
    val bs = blocksOf("<!DOCTYPE html><!-- c --><p>a &lt; b and 1 < 2 ok</p>")
    assert(bs.map(_.text) == Vector("a < b and 1 < 2 ok"))
  }

  test("blocks: inline tags do not split words; source whitespace decides") {
    val bs = blocksOf("<p>wo<b>rd</b> and <em>more</em> text</p>")
    assert(bs.head.text == "word and more text")
  }

  test("blocks: drop nav/aside/footer subtrees and negative classes") {
    val html =
      "<nav><ul><li><a href='/'>home link</a></li></ul></nav>" +
        "<div class='cookie-banner'>We use cookies <a href='/a'>accept</a></div>" +
        "<p>this paragraph is the real article content</p>" +
        "<footer><p>copyright words</p></footer>"
    val bs = blocksOf(html)
    val kept = Classifier.classify(bs).filter(_.keep)
    assert(kept.map(_.text) == Vector("this paragraph is the real article content"))
  }

  test("pre: whitespace-only verbatim block is not emitted (span invariant)") {
    val bs = blocksOf("<pre>   \n  </pre><p>after words here now</p>")
    assert(bs.forall(b => b.beginByte >= 0 && b.beginByte < b.endByte),
      bs.map(b => (b.text, b.beginByte, b.endByte)).toString)
    assert(bs.map(_.text) == Vector("after words here now"))
  }

  test("sort-and-join: tightly-leaded small text keeps its lines (height-scaled tolerance)") {
    import graft.geom.Box
    import graft.pdf.PdfParser.{TextBox, sortAndJoin}
    // 8pt glyphs at 9.6pt leading: baseline delta 9.6 is under the flat
    // 10px tolerance (which would merge the lines and interleave words by
    // x) but over 0.8 x height = 6.4 — the lines must stay separate
    val l1a = TextBox(Box(0, 0, 30, 8), "one", 0, 1)
    val l1b = TextBox(Box(32, 0, 62, 8), "two", 1, 2)
    val l2a = TextBox(Box(0, 9.6, 30, 17.6), "three", 2, 3)
    val l2b = TextBox(Box(32, 9.6, 62, 17.6), "four", 3, 4)
    val (txt, _) = sortAndJoin(Vector(l2b, l1a, l2a, l1b), Box(0, 0, 62, 17.6))
    assert(txt == "one two three four" || txt == "one two\nthree four", txt)
    assert(!txt.contains("one three"), txt) // the interleaving failure shape
    // normal 12pt text with small jitter still joins on one line
    val j1 = TextBox(Box(0, 0, 30, 12), "big", 0, 1)
    val j2 = TextBox(Box(32, 3, 62, 15), "text", 1, 2) // cy delta 3 < 0.8*12
    assert(sortAndJoin(Vector(j2, j1), Box(0, 0, 62, 15))._1 == "big text")
  }

  test("pdf: a formula suppressed by the overlap rule demotes to body text, never vanishes") {
    import graft.geom.Box
    import graft.pdf.PdfParser
    import graft.pdf.PdfParser.{PdfPage, TextBox}
    // a low formula box sits INSIDE a paragraph's line stack: the lines
    // above and below form one region whose union covers the formula, so
    // the IoA text-priority rule suppresses the Vision element — its masked
    // inner box must then render as body text, not disappear
    val lines = Vector(
      TextBox(Box(10, 10, 200, 22), "line above the formula", 0, 5),
      TextBox(Box(10, 34, 200, 46), "line below the formula", 10, 15))
    val inner = TextBox(Box(60, 25, 150, 31), "x equals y", 20, 25)
    val formula = TextBox(Box(55, 24, 155, 32), "x = y", 20, 25)
    val page = PdfPage(600, 800, lines :+ inner,
      Vector.empty, Vector.empty, Vector.empty, Vector.empty,
      Vector.empty, Vector(formula))
    val (txt, offs) = PdfParser.renderPage(page)
    assert(txt.contains("x equals y"), txt) // the masked box's text survives
    assert(!txt.contains("$$"), txt)        // the demoted formula is not rendered
    assert(offs.exists(o => o._1 == 20 && o._3 == "pdf_fragment"), offs.toString)
    // control: a formula clear of any region still renders as $$..$$
    val clear = PdfPage(600, 800, lines,
      Vector.empty, Vector.empty, Vector.empty, Vector.empty,
      Vector.empty, Vector(TextBox(Box(10, 300, 200, 320), "a+b", 30, 33)))
    val (txt2, offs2) = PdfParser.renderPage(clear)
    assert(txt2.contains("$$a+b$$"), txt2)
    assert(offs2.exists(_._3 == "pdf_formula"), offs2.toString)
  }

  test("charset: only meta tags declare; a URL query string cannot hijack") {
    import java.nio.charset.StandardCharsets.UTF_8
    val hijack = ("<html><head><title>t</title></head><body>" +
      "<a href=\"/convert?charset=big5\">x</a><p>café</p>").getBytes(UTF_8)
    val d = Charset.sniff(hijack)
    assert(d.charset == UTF_8 && !d.declared, d.toString)
    val meta = ("<html><head><meta charset=\"windows-1252\"></head>").getBytes(UTF_8)
    val d2 = Charset.sniff(meta)
    assert(d2.declared && d2.charset.name.toLowerCase.contains("1252"), d2.toString)
    // charset= inside some other tag's attribute region is also not a meta
    val other = ("<html><head><script src=\"x?charset=sjis\"></script>" +
      "<meta charset=utf-8></head>").getBytes(UTF_8)
    val d3 = Charset.sniff(other)
    assert(d3.declared && d3.charset == UTF_8, d3.toString)
  }

  test("charset: the meta prescan honors quotes and skips comments") {
    import java.nio.charset.StandardCharsets.UTF_8
    // a quoted '>' does not end the meta tag
    val quoted = "<html><head><meta content=\"x>y; charset=windows-1252\"></head>".getBytes(UTF_8)
    val d = Charset.sniff(quoted)
    assert(d.declared && d.charset.name == "windows-1252", d.toString)
    // a commented-out meta declares nothing; a later real one still counts
    val commented = "<html><head><!-- <meta charset=big5> --><title>t</title></head>".getBytes(UTF_8)
    val d2 = Charset.sniff(commented)
    assert(d2.charset == UTF_8 && !d2.declared, d2.toString)
    val after = "<!-- <meta charset=big5> --><!--><meta charset=\"windows-1252\">".getBytes(UTF_8)
    val d3 = Charset.sniff(after)
    assert(d3.declared && d3.charset.name == "windows-1252", d3.toString)
  }

  test("tables: nested-table text flattens into the enclosing cell") {
    val html = "<table border='1'><tr><td>outer<table><tr><td>inner one</td>" +
      "<td>inner two</td></tr></table></td><td>plain</td></tr></table>"
    val tb = blocksOf(html).find(_.kind == "table").get
    // the captured grid keeps the OUTER structure; the nested table's text
    // joins its enclosing cell, word-separated at nested cell boundaries
    assert(tb.text.contains("outer inner one inner two"), tb.text)
    assert(tb.text.contains("plain"), tb.text)
    assert(!tb.text.contains("<table><tr><td>outer<table>"), tb.text)
  }

  test("blocks: bare text directly inside a drop subtree is dropped, never fused") {
    // no inner block/container tag: the drop container's own text must be
    // flagged dropped (it used to keep the enclosing block's dropped=false)
    val html = "<p>Article text here</p>" +
      "<footer>Copyright 2024 Example Corp</footer>"
    val kept = Classifier.classify(blocksOf(html)).filter(_.keep)
    assert(kept.map(_.text) == Vector("Article text here"))
    val footer = blocksOf(html).find(_.text.contains("Copyright"))
    assert(footer.exists(_.dropped), footer.toString)
    // inline drop inside a paragraph: nav text must not fuse with ' world'
    val bs2 = blocksOf("<p>Hello <nav>Home About Contact</nav> world</p>")
    val navB = bs2.find(_.text.contains("Home"))
    assert(navB.exists(_.dropped), bs2.map(b => (b.text, b.dropped)).toString)
    val keptTexts = Classifier.classify(bs2).filter(_.keep).map(_.text)
    assert(!keptTexts.exists(_.contains("Home")), keptTexts.toString)
    // drop-class container with bare text
    val bs3 = blocksOf("<div class='sidebar'>Sponsored junk links</div>" +
      "<p>real content paragraph words</p>")
    assert(bs3.find(_.text.contains("Sponsored")).exists(_.dropped))
  }

  test("classifier: link-density gate drops link lists outside nav") {
    val html = "<ul>" + (1 to 6).map(i => s"<li><a href='/$i'>link words here</a></li>").mkString + "</ul>" +
      "<p>content paragraph with enough plain words</p>"
    val kept = Classifier.classify(blocksOf(html)).filter(_.keep)
    assert(kept.map(_.text) == Vector("content paragraph with enough plain words"))
  }

  test("title levels: arabic depth, chinese, roman, tag fallback") {
    assert(TitleLevel.resolve("1. Introduction words", 2) == 1)
    assert(TitleLevel.resolve("1.2 Some Section", 1) == 2)
    assert(TitleLevel.resolve("1.2.3 Deep Section", 1) == 3)
    assert(TitleLevel.resolve("一、概述", 1) == 1)
    assert(TitleLevel.resolve("IV. Results here", 3) == 1)
    assert(TitleLevel.resolve("Plain Title", 2) == 2)
    assert(TitleLevel.resolve("Plain Title", 0) == 2)
  }

  test("join rule: space only after ASCII alpha (reference stitching.rs:731-733)") {
    import graft.pdf.PdfParser.{TextBox, sortAndJoin}
    // two fragments on one visual line, left to right
    def joinLine(frags: Seq[String]): String = sortAndJoin(
      Vector(TextBox(Box(0, 0, 40, 10), frags(0), 0, 0),
        TextBox(Box(50, 0, 90, 10), frags(1), 0, 0)), Box(0, 0, 100, 10))._1
    assert(joinLine(Seq("A", "B")) == "A B")
    assert(joinLine(Seq("end.", "next")) == "end.next")
    assert(joinLine(Seq("中文", "词")) == "中文词")
    assert(joinLine(Seq("num1", "x")) == "num1x")
  }

  test("table grid: rowspan/colspan occupancy (reference table_structure_decode.rs:210-291)") {
    // | A(2x1) | B | C |
    // |        | D(1x2)  |
    val grid = TableGrid.resolve(Vector(
      Vector((2, 1, true, "A"), (1, 1, false, "B"), (1, 1, false, "C")),
      Vector((1, 2, false, "D"))))
    val cells = grid.cells.map(c => (c.row, c.col, c.rowSpan, c.colSpan, c.text))
    assert(cells == Vector((0, 0, 2, 1, "A"), (0, 1, 1, 1, "B"), (0, 2, 1, 1, "C"), (1, 1, 1, 2, "D")))
    assert(grid.nRows == 2 && grid.nCols == 3)
    val html = TableGrid.render(grid)
    assert(html.contains("<th rowspan=\"2\">A</th>"))
    assert(html.contains("<td colspan=\"2\">D</td>"))
  }

  test("data table captured; layout table text extracted as paragraphs") {
    val html = "<table border='1'><tr><th>H1</th><th>H2</th></tr><tr><td>a b c</td><td>d e f</td></tr></table>" +
      "<table><tr><td>layout cell with plain words inside</td></tr></table>"
    val bs = blocksOf(html)
    assert(bs.count(_.kind == "table") == 1)
    assert(bs.exists(b => b.kind == "paragraph" && b.text == "layout cell with plain words inside"))
    val tbl = bs.find(_.kind == "table").get
    assert(tbl.text == "<table><tr><th>H1</th><th>H2</th></tr><tr><td>a b c</td><td>d e f</td></tr></table>")
    assert(tbl.cellRuns.length == 4)
  }

  test("pre blocks: whitespace preserved verbatim, entities still decoded") {
    val bs = blocksOf("<p>before text here ok</p><pre>  if (a &lt; b) {\n    x\n  }</pre><p>after text here ok</p>")
    val pre = bs.find(_.kind == "preformatted").get
    assert(pre.text == "  if (a < b) {\n    x\n  }")
    assert(bs.map(_.kind) == Vector("paragraph", "preformatted", "paragraph"))
    val kept = Classifier.classify(bs).filter(_.keep)
    assert(kept.exists(_.kind == "preformatted"))
  }

  test("charset: meta sniff + cp1252 decode") {
    val s = "<html><head><meta charset=\"windows-1252\"></head><body><p>café große words here</p></body></html>"
    val bytes = s.getBytes("windows-1252")
    val dec = Charset.sniff(bytes)
    assert(dec.charset.name() == "windows-1252" && dec.declared)
    val bs = BlockBuilder.build(bytes, dec.charset)
    assert(bs.map(_.text) == Vector("café große words here"))
  }

  test("charset: UTF-16 BOM + parity sniff, normalize feeds the pipeline") {
    val s = "<html><head><meta charset=\"utf-16\"></head><body><p>unicode café 中文 words here</p></body></html>"
    val le = s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    val bomLe = Array(0xff.toByte, 0xfe.toByte) ++ le
    val bomBe = Array(0xfe.toByte, 0xff.toByte) ++ s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
    assert(Charset.sniff(bomLe).charset.name() == "UTF-16LE" && Charset.sniff(bomLe).declared)
    assert(Charset.sniff(bomBe).charset.name() == "UTF-16BE" && Charset.sniff(bomBe).declared)
    // BOM-less: byte-parity heuristic
    val decLe = Charset.sniff(le)
    assert(decLe.charset.name() == "UTF-16LE" && !decLe.declared)
    assert(Charset.sniff(s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)).charset.name() == "UTF-16BE")
    // tiny or binary-ish inputs must NOT false-positive
    assert(Charset.sniff("<p>hi</p>".getBytes("UTF-8")).charset.name() == "UTF-8")
    // end-to-end: normalized bytes run the standard byte pipeline
    for (bytes <- Seq(bomLe, le, bomBe)) {
      val (buf, cs) = Charset.normalize(bytes, Charset.sniff(bytes))
      val bs = BlockBuilder.build(buf, cs)
      assert(bs.map(_.text) == Vector("unicode café 中文 words here"), s"bytes head ${bytes.take(4).toSeq}")
    }
  }

  test("charset: mislabeled utf-16 meta over UTF-8 bytes passes through, structure survives") {
    // the meta tag being byte-scannable at all proves the bytes aren't UTF-16;
    // a naive transcode would turn the whole document into CJK mojibake
    val s = "<html><head><meta charset=\"utf-16\"></head><body><p>plain ascii body words here</p></body></html>"
    val bytes = s.getBytes("UTF-8")
    val dec = Charset.sniff(bytes)
    assert(Charset.isUtf16(dec.charset) && dec.declared) // sniff trusts the meta...
    val (buf, cs) = Charset.normalize(bytes, dec) // ...normalize does not
    assert(buf eq bytes)
    assert(cs eq java.nio.charset.StandardCharsets.UTF_8)
    val bs = BlockBuilder.build(buf, cs)
    assert(bs.map(_.text) == Vector("plain ascii body words here"))
    // surfaced decision label on the extracted row
    val p = Extractor.extract(Page("u", new java.sql.Timestamp(0L), bytes, "", "en"))
    assert(p.charset == "utf-8(mislabeled:utf-16)")
    assert(p.text.contains("plain ascii body words here"))
    // genuine transcodes and plain pages carry their labels too
    assert(Extractor.extract(Page("u2", new java.sql.Timestamp(0L), bomLeDoc, "", "en")).charset == "utf-16le->utf-8")
    val plain = Extractor.extract(Page("u3", new java.sql.Timestamp(0L), "<p>plain page words here</p>".getBytes("UTF-8"), "", "en"))
    assert(plain.charset == "utf-8")
  }

  private lazy val bomLeDoc: Array[Byte] = {
    val s = "<html><body><p>unicode café 中文 words here</p></body></html>"
    Array(0xff.toByte, 0xfe.toByte) ++ s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
  }

  test("malformed html: unclosed tags and stray end tags survive") {
    val bs = blocksOf("<p><b>unclosed bold content words</p><p>second paragraph words here</span></p>")
    assert(bs.map(_.text) == Vector("unclosed bold content words", "second paragraph words here"))
  }

  test("classifier: cjk word counting") {
    // the word count BlockBuilder takes while emitting each block's text
    def words(text: String) = blocksOf(s"<p>$text</p>").map(_.words)
    assert(words("中文词") == Vector(3))
    assert(words("two words") == Vector(2))
    assert(words("mix 中文 ok") == Vector(4))
    assert(words("  spaced\n\tout  ") == Vector(2))
  }

  test("duplicate pass: a fingerprint hit is confirmed by equals") {
    val long = "a paragraph long enough for the duplicate content pass"
    def raw(text: String, fp: Long) = BlockBuilder.RawBlock("p", "paragraph", 0, text,
      0L, 1L, text.count(!_.isWhitespace), 0, dropped = false, Array.empty,
      words = 9, fingerprint = fp)
    val other = long.reverse
    // same text: the repeat is dropped; a colliding fingerprint over a
    // different text keeps both
    assert(Classifier.classify(Vector(raw(long, 7L), raw(long, 7L))).map(_.keep) == Vector(true, false))
    assert(Classifier.classify(Vector(raw(long, 7L), raw(other, 7L))).map(_.keep) == Vector(true, true))
    // and the fingerprints BlockBuilder takes agree exactly when texts do
    val bs = blocksOf(s"<p>$long</p><div>$long</div><p>$other</p>")
    assert(bs(0).fingerprint == bs(1).fingerprint && bs(0).fingerprint != bs(2).fingerprint)
  }

  test("tag table: flags match the kernel's tag sets; case, digits and unknown names tokenize") {
    val sets = Map(
      Tags.Void -> Set("area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr"),
      Tags.RawText -> Set("script", "style", "template", "textarea", "title", "noscript", "svg"),
      Tags.Drop -> Set("nav", "aside", "header", "footer", "form",
        "button", "select", "iframe", "object", "menu", "dialog"),
      Tags.Block -> Set("p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
        "pre", "blockquote", "figcaption", "dt", "dd", "td", "th", "caption", "math"),
      Tags.Container -> Set("div", "section", "article", "main", "body",
        "html", "ul", "ol", "dl", "table", "thead", "tbody", "tfoot", "tr",
        "center", "figure", "details", "summary", "address", "fieldset"),
      Tags.ProbeBlock -> Set("div", "p", "ul", "ol", "dl", "section",
        "article", "h1", "h2", "h3", "h4", "h5", "h6"))
    def idOf(name: String) = Tags.lookup(name.getBytes(StandardCharsets.US_ASCII), 0, name.length)
    for ((flag, names) <- sets; name <- names ++ Tags.names) {
      for (n <- Seq(name, name.toUpperCase)) {
        val id = idOf(n)
        assert(id >= 0 && Tags.names(id) == name, n)
        assert(((Tags.flags(id) & flag) != 0) == names(name), s"$n flag $flag")
      }
    }
    assert(idOf("h9") < 0 && idOf("x-foo") < 0 && idOf("divv") < 0 && idOf("") < 0)
    // mixed case nests and closes like lower case; h9 and unknown names are
    // inline and close against their own start tags
    val bs = blocksOf("<DiV><H1>Title Words</h1><P>para <foo>inner</FOO> words" +
      "<h9>nine</H9> tail</p>bare text</DIV><h9><p>in h9</p></h9>")
    assert(bs.map(b => (b.tag, b.kind, b.level, b.text)) == Vector(
      ("h1", "title", 1, "Title Words"),
      ("p", "paragraph", 0, "para inner wordsnine tail"),
      ("body", "paragraph", 0, "bare text"),
      ("p", "paragraph", 0, "in h9")))
    // the wireless-table probe resolves names through the same table:
    // unknown and mixed-case names inside a data table are inline
    val probed = "<TABLE><tr><TH><x-cell>Name</x-cell></TH><th>Value</th></tr>" +
      "<tr><td><h9>1</h9></td><td>2</td></tr><tr><td>3</td><td>4</td></tr></TABLE>"
    assert(blocksOf(probed).map(_.kind) == Vector("table"))
    val layout = "<table><tr><th>a</th><th>b</th></tr><tr><td><DIV>x</DIV></td></tr>" +
      "<tr><td>y</td></tr></table>"
    assert(!blocksOf(layout).exists(_.kind == "table"))
  }

  test("table with cells but no text keeps a valid [begin,end) span") {
    // a bare data-table opening at end of input captures a cell but never a
    // text run, so the last-text-end approximation predates the table —
    // the emitted span must clamp, not invert (found by FuzzCampaign --html)
    val bs = blocksOf("<p>words before the table appear here</p><table border=1><tr><td>")
    val tbl = bs.filter(_.kind == "table")
    assert(tbl.nonEmpty)
    assert(tbl.forall(b => b.beginByte <= b.endByte), tbl.map(b => (b.beginByte, b.endByte)))
  }

  test("dialect pdf: truncated trailing line is skipped, not a parse crash") {
    // a number ending exactly at end-of-input left the scan one past the
    // buffer (StringIndexOutOfBounds; found by FuzzCampaign --html on
    // mutated dialect rows) — too-few-numbers lines are simply skipped
    val payload = "%PDF-GRAFT v2\nP 612.0 792.0\nT 10 20 30".getBytes(StandardCharsets.UTF_8)
    val (text, spans) = graft.pdf.PdfParser.extract(payload)
    assert(text == "", text)
    assert(spans.isEmpty)
  }

  test("pdf formula: latex normalization collapses whitespace runs, trims ends") {
    import graft.pdf.PdfParser.normalizeLatex
    assert(normalizeLatex("E_{3}  =\t m c^2 ") == "E_{3} = m c^2")
    assert(normalizeLatex("  \n x \n ") == "x")
    assert(normalizeLatex("") == "")
    assert(normalizeLatex("a+b") == "a+b")
  }

  test("pdf formula: M box renders $$..$$ and masks OCR fragments inside it") {
    // mask-then-detect (reference structure.rs:1981-1990): the T fragment
    // centered inside the M box is the formula's own rendering — consumed,
    // never a body region; the outside T still becomes body text
    val payload = ("%PDF-GRAFT v2\n" +
      "P 612.0 792.0\n" +
      "M 10.0 100.0 580.0 40.0 E  =\t m  c^2\n" +
      "T 30.0 114.0 80.0 12.0 maskedfrag\n" +
      "T 10.0 300.0 300.0 12.0 body text stays\n").getBytes(StandardCharsets.UTF_8)
    val (text, spans) = graft.pdf.PdfParser.extract(payload)
    assert(text.contains("$$E = m c^2$$"), text)
    assert(!text.contains("maskedfrag"), text)
    assert(text.contains("body text stays"), text)
    // spans: exactly the formula box bytes + the surviving body box bytes
    val spanned = spans.map(s => new String(payload, s.beginByte.toInt,
      (s.endByte - s.beginByte).toInt, StandardCharsets.UTF_8)).toSet
    assert(spanned == Set("E  =\t m  c^2", "body text stays"), spanned)
  }

  test("pdf formula count is typed: literal $$ in body text never counts as a formula") {
    // one M formula + a body line containing literal $$ markers: the span
    // surface must carry exactly ONE pdf_formula span (a regex over the
    // rendered text would see 2 extra $$ and miscount)
    val payload = ("%PDF-GRAFT v2\n" +
      "P 612.0 792.0\n" +
      "M 10.0 100.0 580.0 40.0 x + y\n" +
      "T 10.0 300.0 300.0 12.0 price is $$ and more $$ here\n").getBytes(StandardCharsets.UTF_8)
    val (text, spans) = graft.pdf.PdfParser.extract(payload)
    assert(text.contains("$$x + y$$"), text)
    assert(text.contains("price is $$ and more $$ here"), text)
    assert(spans.count(_.kind == "pdf_formula") == 1, spans.map(_.kind).toSeq)
    assert(spans.count(_.kind == "pdf_fragment") == 1, spans.map(_.kind).toSeq)
  }

  // ---- round 5: stable-branch review fixes ----------------------------------

  private def extractHtml(html: String): graft.model.ExtractedPage =
    Extractor.extract(Page("u", new java.sql.Timestamp(0L),
      html.getBytes(StandardCharsets.UTF_8), "", "en"))

  test("debug surfaces describe what extract emits: fixtures, null html, oversize page") {
    import graft.pdf.{PdfParser, RealPdf}
    val ts = new java.sql.Timestamp(0L)
    val fixtures = (0L until 200L).map(i => graft.fixtures.FixtureGen.fixture(i).page)
    val pdfs = fixtures.filter(p => PdfParser.isPdf(p.html))
    assert(pdfs.exists(p => RealPdf.isReal(p.html)) && pdfs.exists(p => !RealPdf.isReal(p.html)),
      "both PDF row classes must be present")
    // past the clamp sits a paragraph the clamped bytes never reach
    def padded(pad: Int) = Page("u-pad", ts,
      ("<p>head words before the padding run</p><p>" + " " * pad +
        "tail words past the clamp</p>").getBytes(StandardCharsets.UTF_8), "", "en")
    val oversize = padded(Extractor.MaxHtmlBytes)
    assert(oversize.html.length > Extractor.MaxHtmlBytes)
    val pages = fixtures :+ Page("u-null", ts, null, "", "en") :+ oversize
    var tables = 0
    for (p <- pages) {
      val x = Extractor.extract(p)
      assert(x.error == "", s"${p.url}: ${x.error}")
      val blocks = Extractor.debugBlocks(p)
      val tbls = Extractor.debugTables(p)
      assert(Extractor.renders(p).isEmpty == x.isPdf, p.url)
      if (x.isPdf) assert(blocks.isEmpty && tbls.isEmpty, p.url)
      else {
        assert(blocks.length == x.nBlocks, p.url)
        assert(blocks.count(_.keep) == x.nKept, p.url)
        tbls.foreach { case (i, _, _) => assert(blocks(i).kind == "table", s"${p.url} block $i") }
        tables += tbls.length
      }
    }
    assert(tables > 0, "no fixture row exercised debugTables")
    // the oversize page: every surface describes the clamped bytes
    val clamped = oversize.copy(
      html = java.util.Arrays.copyOf(oversize.html, Extractor.MaxHtmlBytes))
    assert(Extractor.debugBlocks(padded(8)).exists(_.text.contains("tail words")))
    assert(Extractor.debugBlocks(oversize) == Extractor.debugBlocks(clamped))
    assert(!Extractor.debugBlocks(oversize).exists(_.text.contains("tail words")))
    assert(Extractor.renders(oversize) == Extractor.renders(clamped))
    assert(Extractor.debugTables(oversize) == Extractor.debugTables(clamped))
    val (xo, xc) = (Extractor.extract(oversize), Extractor.extract(clamped))
    assert(xo.text == xc.text && !xo.text.contains("tail words"), xo.text)
    assert(xo.nBlocks == xc.nBlocks && xo.charset == xc.charset)
    assert(xo.htmlBytes == oversize.html.length.toLong)
  }

  test("unquoted attribute value ending in '/' is NOT self-closing (WHATWG)") {
    // <a href=http://x.com/> must keep its anchor OPEN until </a>; the old
    // self-closing read leaked anchorDepth and link-classified the whole page
    val got = extractHtml(
      "<p><a href=http://x.com/>nav</a></p>" +
        "<p>real content sentence with many plain prose words to keep around here</p>")
    assert(got.error == "", got.error)
    assert(got.text.contains("real content sentence"), got.text)
    // and the anchor text itself is still counted as link text: an all-link
    // block stays boilerplate
    val blocks = Extractor.debugBlocks(Page("u2", new java.sql.Timestamp(0L),
      "<p><a href=http://x.com/>only link words</a></p>".getBytes(StandardCharsets.UTF_8), "", "en"))
    assert(blocks.exists(b => !b.keep), blocks.map(b => (b.text, b.keep)).toString)
  }

  test("genuinely self-closing drop/anchor/table tags do not leak depth state") {
    // <nav/> contains nothing: following content must survive
    val got = extractHtml("<nav/><p>article text that must definitely survive this page</p>")
    assert(got.text.contains("article text"), got.text)
    // <table border="1"/> must not open an endless capture
    val got2 = extractHtml("<table border=\"1\"/><p>after the empty table words keep flowing</p>")
    assert(got2.text.contains("after the empty table"), got2.text)
    // self-closing nested <table/> inside a capture must not unbalance it
    val got3 = extractHtml(
      "<table border=1><tr><td>cell a<table/></td><td>cell b</td></tr></table>" +
        "<p>tail words after the table</p>")
    assert(got3.text.contains("tail words"), got3.text)
  }

  test("abruptly closed comments <!--> and <!---> end at their '>' (WHATWG)") {
    val got = extractHtml(
      "<p>alpha prose words before the comment here</p><!--><p>beta words survive just fine</p>")
    assert(got.text.contains("alpha prose words") && got.text.contains("beta words survive"), got.text)
    val got2 = extractHtml(
      "<p>alpha prose words before the comment here</p><!---><p>gamma words survive just fine</p>")
    assert(got2.text.contains("gamma words survive"), got2.text)
  }

  test("<br> and block boundaries inside captured table cells separate words") {
    val p = Page("u", new java.sql.Timestamp(0L),
      "<table border=1><tr><td>123 Main St<br>Springfield</td></tr></table>"
        .getBytes(StandardCharsets.UTF_8), "", "en")
    val tables = Extractor.debugTables(p)
    assert(tables.nonEmpty)
    assert(tables.head._3.contains("123 Main St Springfield"), tables.head._3)
  }

  test("adversarial rowspan/colspan are capped: bounded grid, fast completion") {
    val t0 = System.nanoTime()
    val got = extractHtml(
      "<table border=1><tr><td rowspan=\"2000000\" colspan=\"2000000\">x</td></tr></table>")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.error == "", got.error)
    assert(secs < 10.0, s"span bomb took $secs s")
  }

  test("probeDataTable ignores markup inside quoted attribute values") {
    // a genuine data table whose th carries markup in an attribute string:
    // the probe must track quotes like the real tokenizer and still capture
    val html =
      "<table><tr><th onclick=\"show('<div>')\">Name</th><th>Value</th></tr>" +
        "<tr><td>1</td><td>2</td></tr><tr><td>3</td><td>4</td></tr></table>"
    val p = Page("u", new java.sql.Timestamp(0L), html.getBytes(StandardCharsets.UTF_8), "", "en")
    assert(Extractor.debugTables(p).nonEmpty)
  }
}
