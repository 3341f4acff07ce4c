package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.ops.WebFilters

/** Planted-truth vectors for the crawl-hygiene filters: UT1-style domain
  * blocklist (suffix matching, most-specific-wins, bare-TLD guard, dup-entry
  * determinism) and RefinedWeb-style line-wise correction (each removal rule
  * individually, the >50%-removed document verdict, empty/missing text). */
class WebFiltersSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-web-filters-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def block(hosts: Seq[(Long, String)],
      bl: Seq[(String, String)], levels: Int = 4): Map[Long, (String, Int)] = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    WebFilters.blocklistFilter(
        hosts.toDF("doc_id", "host"), bl.toDF("host", "category"),
        levels = levels)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("block_category"), r.getAs[Int]("blocked"))))
      .toMap
  }

  private val bl = Seq(
    "bad.example.com" -> "adult",
    "cdn.bad.example.com" -> "ads",
    "tracker.net" -> "tracking")

  test("blocklist: exact host match and unlisted passthrough") {
    val m = block(Seq(0L -> "bad.example.com", 1L -> "good.example.com"), bl)
    assert(m(0L) == (("adult", 1)))
    assert(m(1L) == ((null, 0)))
  }

  test("blocklist: subdomains match by suffix at any depth within levels") {
    val m = block(Seq(
      0L -> "a.tracker.net",
      1L -> "deep.a.tracker.net",
      2L -> "nottracker.net"), bl) // no dot boundary -> must NOT match
    assert(m(0L) == (("tracking", 1)))
    assert(m(1L) == (("tracking", 1)))
    assert(m(2L) == ((null, 0)))
  }

  test("blocklist: most specific entry wins over its parent") {
    val m = block(Seq(
      0L -> "cdn.bad.example.com",   // listed itself AND under bad.example.com
      1L -> "x.cdn.bad.example.com", // child of both; cdn... is longer
      2L -> "other.bad.example.com"), bl)
    assert(m(0L) == (("ads", 1)))
    assert(m(1L) == (("ads", 1)))
    assert(m(2L) == (("adult", 1)))
  }

  test("blocklist: bare TLD suffixes never match; levels bound the depth") {
    // "com" as an entry must be unreachable (suffixes need >= 2 labels)
    val m = block(Seq(0L -> "anything.com"), Seq("com" -> "tld"))
    assert(m(0L) == ((null, 0)))
    // a host deeper than `levels` labels stops matching its far ancestor
    val deep = block(Seq(0L -> "a.b.c.d.tracker.net"), bl, levels = 3)
    assert(deep(0L) == ((null, 0)))
    val deepEnough = block(Seq(0L -> "a.b.c.d.tracker.net"), bl, levels = 5)
    assert(deepEnough(0L) == (("tracking", 1)))
  }

  test("blocklist: hosts normalize — case-insensitive, root dot stripped") {
    val m = block(Seq(
      0L -> "Bad.Example.COM",        // DNS case-insensitivity
      1L -> "bad.example.com.",       // FQDN root dot
      2L -> "CDN.BAD.EXAMPLE.COM."),  // both, on a subdomain
      bl ++ Seq("MIXED.Case.Org" -> "listed-mixed"))
    assert(m(0L) == (("adult", 1)))
    assert(m(1L) == (("adult", 1)))
    assert(m(2L) == (("ads", 1)))
    // blocklist-side normalization too
    val n = block(Seq(0L -> "mixed.case.org"),
      Seq("MIXED.Case.Org." -> "listed-mixed"))
    assert(n(0L) == (("listed-mixed", 1)))
  }

  test("blocklist: duplicate entries collapse to the smallest category") {
    val m = block(Seq(0L -> "bad.example.com"),
      Seq("bad.example.com" -> "zeta", "bad.example.com" -> "alpha"))
    assert(m(0L) == (("alpha", 1)))
  }

  test("blocklist: levels outside [1,8] are rejected loudly") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      WebFilters.blocklistFilter(
        Seq((0L, "a.b")).toDF("doc_id", "host"),
        bl.toDF("host", "category"), levels = 0)
    }
  }

  test("blocklist: an input already carrying an output or scratch column fails fast") {
    import spark.implicits._
    for (taken <- Seq("block_category", "Blocked", "_bl_cat_0", "_bl_host_1")) {
      val e = intercept[IllegalArgumentException] {
        WebFilters.blocklistFilter(
          Seq((0L, "bad.example.com", 1)).toDF("doc_id", "host", taken),
          bl.toDF("host", "category"))
      }
      assert(e.getMessage.contains(taken), e.getMessage)
    }
    // a near-miss name is an ordinary input column and passes through
    val out = WebFilters.blocklistFilter(
        Seq((0L, "bad.example.com", 7)).toDF("doc_id", "host", "bl_cat"),
        bl.toDF("host", "category"))
      .select("bl_cat", "block_category", "blocked").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((7, "adult", 1)))
  }

  private def fix(rows: Seq[(Long, String)]): Map[Long, (Long, Long, Int, String)] = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    WebFilters.lineFix(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"),
          r.getAs[Int]("doc_kept"), r.getAs[String]("fixed_text"))))
      .toMap
  }

  test("lineFix: each boilerplate rule fires; content and empties survive") {
    val m = fix(Seq(
      0L -> "Real content here.\nSign In\n12 Comments\nHOME | ABOUT US\n\nMore real prose follows this line."))
    // removed: nav phrase (case-insensitive), counter, all-caps bar;
    // kept: two prose lines and the empty paragraph separator
    assert(m(0L) == ((6L, 3L, 1,
      "Real content here.\n\nMore real prose follows this line.")))
  }

  test("lineFix: mostly-chrome documents are flagged dropped") {
    val m = fix(Seq(0L -> "Log in\nSubscribe\nOnly line of prose.\n3 likes"))
    assert(m(0L) == ((4L, 3L, 0, "Only line of prose.")))
    // exactly half removed is still kept (strict-majority drop)
    val half = fix(Seq(1L -> "Menu\nProse one.\nSearch\nProse two."))
    assert(half(1L) == ((4L, 2L, 1, "Prose one.\nProse two.")))
  }

  test("lineFix: all-caps rule needs >=4 letters and a short line") {
    val longBar = "THIS ALL CAPS LINE IS OVER EIGHTY CHARACTERS LONG SO IT MUST SURVIVE THE CAPS RULE X"
    assert(longBar.length > 80)
    val m = fix(Seq(0L -> s"OK GO\nNO\n$longBar\nUSA"))
    // "OK GO" (5 letters, caps) removed; "NO"/"USA" (<4 letters) kept;
    // the >80-char shout kept
    assert(m(0L) == ((4L, 1L, 1, s"NO\n$longBar\nUSA")))
  }

  test("lineFix: CRLF lines strip the \\r before the anchored rules") {
    // "Sign in\r" must be removed (Java '$' would also match before the
    // final \r, but RE2's would not — the operator strips \r inside the
    // PREDICATE so both engine semantics agree); kept lines stay verbatim
    // (lines are removed, never rewritten), and 2 of 3 removed drops the doc
    val m = fix(Seq(0L -> "Sign in\r\nReal prose stays.\r\n12 likes\r"))
    assert(m(0L) == ((3L, 2L, 0, "Real prose stays.\r")))
  }

  test("lineFix: null and empty text are single empty kept lines") {
    import spark.implicits._
    val df = Seq((0L, ""), (1L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val m = WebFilters.lineFix(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"),
          r.getAs[Int]("doc_kept"), r.getAs[String]("fixed_text")))).toMap
    assert(m(0L) == ((1L, 0L, 1, "")))
    assert(m(1L) == ((1L, 0L, 1, "")))
  }

  test("lineFix plan is narrow and blocklistFilter never sort-merge joins") {
    import spark.implicits._
    val fixPlan = WebFilters.lineFix(Seq((0L, "a")).toDF("doc_id", "text"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    assert(!fixPlan.contains("Exchange"), fixPlan)
    val blPlan = WebFilters.blocklistFilter(
        Seq((0L, "a.b")).toDF("doc_id", "host"), bl.toDF("host", "category"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    assert(blPlan.contains("BroadcastHashJoin"), blPlan)
    assert(!blPlan.contains("SortMergeJoin"), blPlan)
  }
}
