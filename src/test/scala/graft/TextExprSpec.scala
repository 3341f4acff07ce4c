package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.functions.{CanonUrl, NfcNormalize}
import graft.ops.{ReferenceForms, TextOps}

/** Planted-truth tests for the native text expressions (graft_nfc,
  * graft_canon_url): pure-function vectors on the companions, then the same
  * semantics through a DataFrame (whole-stage codegen path) and through SQL
  * registration. */
class TextExprSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-textexpr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def nfcS(s: String): String =
    NfcNormalize.nfc(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString

  test("nfc composes decomposed sequences (single, double, Hangul)") {
    assert(nfcS("café") == "café")          // e + acute -> é
    assert(nfcS("Ǻ") == "Ǻ")           // A + ring + acute -> Ǻ
    assert(nfcS("가") == "가")            // jamo -> 가
  }

  test("nfc leaves ASCII and already-NFC text untouched") {
    assert(nfcS("plain ascii 123") == "plain ascii 123")
    assert(nfcS("café Ǻ 가") == "café Ǻ 가")
    assert(nfcS("") == "")
  }

  test("canon: full messy URL (case, FQDN dot, default port, utm, sort, fragment)") {
    assert(CanonUrl.canon(
      "HTTP://WWW.Example.COM.:80/Path/1?utm_source=x&b=2&a=1#frag")
      == "http://www.example.com/Path/1?a=1&b=2")
  }

  test("canon: ports — defaults dropped per scheme, leading zeros, non-defaults kept") {
    assert(CanonUrl.canon("https://Host:443/") == "https://host/")
    assert(CanonUrl.canon("http://h:0080/x") == "http://h/x")
    assert(CanonUrl.canon("http://h:08080/x") == "http://h:8080/x")
    assert(CanonUrl.canon("https://h:80/x") == "https://h:80/x") // http default on https: kept
  }

  test("canon: path/query edge shapes") {
    assert(CanonUrl.canon("http://H") == "http://h/")            // empty path -> /
    assert(CanonUrl.canon("http://h/p?") == "http://h/p")        // empty query dropped
    assert(CanonUrl.canon("http://h/p?utm_a=1&fbclid=z") == "http://h/p")
    assert(CanonUrl.canon("http://h/p?a=&&b=1") == "http://h/p?a=&b=1")
    assert(CanonUrl.canon("http://h/?utm") == "http://h/?utm")   // bare 'utm' is not utm_*
    assert(CanonUrl.canon("http://h/p#a#b") == "http://h/p")     // cut at FIRST '#'
  }

  test("canon: userinfo keeps case; IPv6 literals; schemeless passthrough") {
    assert(CanonUrl.canon("http://User@Host/") == "http://User@host/")
    assert(CanonUrl.canon("http://[2001:DB8::1]:80/x") == "http://[2001:db8::1]/x")
    assert(CanonUrl.canon("http://[2001:DB8::1]:8080/x") == "http://[2001:db8::1]:8080/x")
    assert(CanonUrl.canon("www.Example.com/Path#f") == "www.Example.com/Path")
    assert(CanonUrl.canon("") == "")
  }

  test("canon: non-scheme prefix before :// means no scheme — passthrough") {
    // a schemeless URL whose QUERY embeds an absolute URL: the text before
    // the first "://" contains '/'+'?' and is not a scheme, so nothing is
    // lowercased and the outer path keeps its case
    assert(CanonUrl.canon("Example.com/Redirect?To=https://Other.COM/p")
      == "Example.com/Redirect?To=https://Other.COM/p")
    assert(CanonUrl.canon("1http://h/x") == "1http://h/x") // scheme must start with ALPHA
  }

  test("canon: malformed and empty ports") {
    // malformed port stays verbatim (lowercased with the host) — distinct
    // inputs must stay distinct
    assert(CanonUrl.canon("http://[2001:DB8::1]:0abc/x") == "http://[2001:db8::1]:0abc/x")
    assert(CanonUrl.canon("http://H:12ab/x") == "http://h:12ab/x")
    // bare trailing colons = empty ports = no port (RFC 3986 §6.2.3);
    // stacked empty ports must collapse in ONE pass (idempotence)
    assert(CanonUrl.canon("http://h:/x") == "http://h/x")
    assert(CanonUrl.canon("https://h:/") == "https://h/")
    assert(CanonUrl.canon("https://HOST::/p%20q") == "https://host/p%20q")
    assert(CanonUrl.canon("http://[2001:DB8::1]:/x") == "http://[2001:db8::1]/x")
  }

  test("canon is idempotent and drops fragments on 20k seeded URL-soup cases") {
    // canonicalization MUST be a projection: canon(canon(x)) == canon(x),
    // else two passes over the same crawl produce different dedup keys.
    // Seeded grammar mixes well-formed, hostile, and malformed shapes.
    val rnd = new scala.util.Random(20260819L)
    val schemes = Array("http", "HTTP", "https", "ftp", "1bad", "", "we ird")
    val hosts = Array("Example.COM.", "h", "[2001:DB8::1]", "a.b.c", "HOST:",
      "u@Host", "U:p@h.co", "", "Host..", "h.:80.")
    val ports = Array("", ":80", ":443", ":0080", ":8080", ":", ":12ab", ":0")
    val paths = Array("", "/", "/Path/X", "/a//b", "/p%20q", "/..", "/?")
    val queries = Array("", "?", "?a=1", "?utm_source=x", "?b=2&a=1&utm_a=0",
      "?a=&&b=1", "?fbclid=z&x://y", "?a=1&a=0")
    val frags = Array("", "#f", "#a#b", "#x?y=1", "#")
    var i = 0
    while (i < 20000) {
      val url = (if (rnd.nextInt(4) == 0) "" else schemes(rnd.nextInt(schemes.length)) + "://") +
        hosts(rnd.nextInt(hosts.length)) + ports(rnd.nextInt(ports.length)) +
        paths(rnd.nextInt(paths.length)) + queries(rnd.nextInt(queries.length)) +
        frags(rnd.nextInt(frags.length))
      val c = CanonUrl.canon(url)
      assert(CanonUrl.canon(c) == c, s"not idempotent on <$url>: <$c> -> <${CanonUrl.canon(c)}>")
      assert(!c.contains('#'), s"fragment survived on <$url>: <$c>")
      i += 1
    }
    // NFC idempotence over mixed composed/decomposed soup
    val pieces = Array("e", "é", "a", " ", "\u0301", "\u030A",
      "Ǻ", "가", "ᄀ", "ᅡ")
    var j = 0
    while (j < 20000) {
      val s = Seq.fill(1 + rnd.nextInt(8))(pieces(rnd.nextInt(pieces.length))).mkString
      val n = nfcS(s)
      assert(nfcS(n) == n, s"nfc not idempotent on <$s>")
      j += 1
    }
  }

  test("DataFrame path (codegen): same results, null in -> null out") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val df = Seq(
      (0L, "café", "HTTP://WWW.Example.COM.:80/p?utm_source=x&b=2&a=1#f"),
      (1L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("doc_id", "t", "u")
    val out = df.select(
      graft.functions.TextFunctions.nfc(org.apache.spark.sql.functions.col("t")).as("n"),
      graft.functions.TextFunctions.canonUrl(org.apache.spark.sql.functions.col("u")).as("c"))
      .collect()
    assert(out(0).getString(0) == "café")
    assert(out(0).getString(1) == "http://www.example.com/p?a=1&b=2")
    assert(out(1).isNullAt(0) && out(1).isNullAt(1))
  }

  test("SQL registration: graft_nfc / graft_canon_url callable from spark.sql") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    for (triple <- Seq(graft.functions.GraftExtensions.GraftNfc,
                       graft.functions.GraftExtensions.GraftCanonUrl)) {
      val (id, info, builder) = triple
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val r = spark.sql(
      "SELECT graft_nfc('Ǻ') AS n, " +
        "graft_canon_url('HTTPS://H:443/x?b=1&a=2') AS c").head()
    assert(r.getString(0) == "Ǻ")
    assert(r.getString(1) == "https://h/x?a=2&b=1")
  }

  // ---- graft_lang_id: native one-pass twin of the regex langIdDF form ----

  /** Run both langId forms over the same (doc_id, text) rows and assert
    * row-for-row equality of (n_latin, n_cjk, detected_lang). */
  private def assertLangParity(rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = rows.toDF("doc_id", "text")
    val fast = TextOps.langIdFast(df, col("text")).orderBy("doc_id").collect()
    val ref = ReferenceForms.langIdDF(df, col("text")).orderBy("doc_id").collect()
    assert(fast.length == ref.length)
    fast.zip(ref).foreach { case (f, r) =>
      if (f != r) fail(s"fast=$f ref=$r for doc ${f.getLong(0)}: '${
        rows.find(_._1 == f.getLong(0))
          .map(t => String.valueOf(t._2).take(80)).getOrElse("")}'")
    }
  }

  test("graft_lang_id: hand vectors match the regex form on every branch") {
    assertLangParity(Seq(
      0L -> "the cat and the dog is in of to the house",
      1L -> "der Hund und die Katze ist das Tier über größer",
      2L -> "le chat et la maison est les jardins",
      3L -> "el perro y los gatos las casas es",
      4L -> "これはひらがなとカタカナのテキストです",
      5L -> "한국어 텍스트 문장입니다 안녕하세요",
      6L -> "这是一段中文文本没有假名",
      7L -> "هذا نص باللغة العربية للاختبار",
      8L -> "это русский текст для проверки",
      9L -> "1234 %% ++ __ 5678",          // no letters -> und
      10L -> "",                            // empty -> und
      11L -> "xqz vbn mlp",                 // latin, zero stopwords -> en
      12L -> "the, and. of! to? is;",       // punctuation-adjacent: NOT counted
      13L -> "THE AND OF TO IS",            // uppercase stopwords lower to hits
      14L -> "ÄÖÜ über jedoch wäre",        // uppercase diacritics count via lower
      15L -> "the\tand\nof\rto",            // tab/newline are NOT delimiters
      16L -> "  the  and  ",                // doubled spaces, empty tokens
      17L -> "İstanbul IS the İS city",     // U+0130 full case mapping (i̇)
      18L -> "es es es est est la la le",   // fr/es tie-break order
      19L -> (("the and " * 800) + "tail"), // crosses the 4000-char clip
      20L -> "𝒜𝒷𝒸 the 𝒹𝑒 and 𝒻𝑔",           // astral chars around stopwords
      21L -> "×÷ the and of",               // U+00D7/U+00F7 count as latin (class parity)
      22L -> null))
  }

  test("graft_lang_id: 1000-case seeded fuzz equivalence vs the regex form") {
    val alphabet: Array[String] = Array(
      "the", "and", "of", "to", "is", "der", "und", "die", "das", "ist",
      "le", "la", "les", "et", "est", "el", "los", "las", "y", "es",
      " ", "  ", "\t", "\n", "\r", ",", ".", "!", "ä", "ö", "ü", "ß",
      "Ä", "Ö", "Ü", "é", "û", "×", "÷", "İ", "ı", "ẞ",
      "漢", "字", "か", "タ", "한", "글", "م", "ر", "б", "в",
      "x", "q", "Z", "0", "9", "𝒜", " ", "word", "thee", "sthe")
    val rnd = new scala.util.Random(4242)
    val rows = (0 until 1000).map { i =>
      val sb = new StringBuilder
      val parts = rnd.nextInt(60)
      (0 until parts).foreach(_ => sb.append(alphabet(rnd.nextInt(alphabet.length))))
      i.toLong -> sb.toString
    }
    assertLangParity(rows)
  }

  test("graft_lang_id: SQL registration + executed plan stays codegen'd") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val (id, info, builder) = graft.functions.GraftExtensions.GraftLangId
    if (!spark.sessionState.functionRegistry.functionExists(id))
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    val r = spark.sql(
      "SELECT graft_lang_id('the cat and the dog is here') AS f").head()
    assert(r.getStruct(0).getString(2) == "en")
    // non-foldable source (a literal DF constant-folds to LocalTableScan)
    import org.apache.spark.sql.functions.{col, concat, lit}
    val src = spark.range(4).select(col("id").as("doc_id"),
      concat(lit("the and of "), col("id")).as("text"))
    val exec = TextOps.langIdFast(src, col("text"))
      .queryExecution.executedPlan.toString
    assert(exec.contains("*(1) Project"), exec)
  }

  test("d25 query shape: nfc_chars < raw_chars on every row (composition fired)") {
    import spark.implicits._
    val df = Seq((7L, "word soup")).toDF("doc_id", "text")
    val messy = org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.col("text"),
      org.apache.spark.sql.functions.lit(" café Ǻ"))
    val row = TextOps.nfcNormalize(df, messy).head()
    assert(row.getAs[Int]("raw_chars") == row.getAs[Int]("nfc_chars") + 3)
    assert(row.getAs[String]("nfc_text") == "word soup café Ǻ")
  }
}
