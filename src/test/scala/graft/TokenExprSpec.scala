package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{AsciiTokenCount, AsciiTokens, TokenFunctions, WindowXx64Keys}
import graft.ops.{ReferenceForms, TextOps}

/** The native tokenizer/window-key expressions: pure-function vectors on the
  * companions, then DataFrame equivalence against the oracle-shaped regexp
  * reference (`transform(regexp_extract_all(...), lower)`) on adversarial
  * text — the reference IS what the DuckDB oracles recompute, so the native
  * byte-scan must match it exactly, token for token. */
class TokenExprSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tokenexpr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def toksS(s: String): Seq[String] = {
    val a = AsciiTokens.tokens(UTF8String.fromString(s))
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }

  // text that exercises every boundary class: unicode letters adjacent to
  // ASCII runs, digits, case, multi-byte chars splitting runs, supplementary
  // plane, empty, punctuation-only, leading/trailing runs
  private val vectors = Seq(
    "",
    "   ",
    "...!?;",
    "hello",
    "Hello World",
    "ABC123def",
    "a",
    "9",
    "tabs\tand\nnewlines split",
    "café naïve résumé",          // é/ï split runs
    "Étude Über",                           // uppercase diacritics lead
    "日本語word中文 mixed",       // CJK adjacent to ASCII
    "emoji 😀x😀 between",        // supplementary plane
    "full０widthＡdigits",                    // fullwidth forms are non-ASCII
    "MiXeD CaSe ToKeNs 42X9z",
    "trailing run ends9",
    "7starts with digit",
    "a\u0000b",                                       // NUL splits (not alnum)
    ("LongRun" * 500) + " tail",
    (0 until 300).map(i => s"w$i").mkString(" ")
  )

  test("AsciiTokens pure vectors") {
    assert(toksS("") == Seq())
    assert(toksS("...") == Seq())
    assert(toksS("Hello, World!") == Seq("hello", "world"))
    assert(toksS("ABC123def") == Seq("abc123def"))
    assert(toksS("café") == Seq("caf")) // é is not ASCII alnum
    assert(toksS("Étude") == Seq("tude")) // uppercase É excluded too
    assert(toksS("a\tB\nc") == Seq("a", "b", "c"))
  }

  test("AsciiTokenCount pure vectors match token array sizes") {
    for (v <- vectors)
      assert(AsciiTokenCount.count(UTF8String.fromString(v)) == toksS(v).size,
        s"count mismatch on: $v")
  }

  test("native AsciiTokens == regexp reference on adversarial vectors (codegen path)") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val df = vectors.toDF("t")
    val both = df.select(
      TextOps.asciiTokens(col("t")).as("native"),
      ReferenceForms.asciiTokensViaRegexp(col("t")).as("ref")).collect()
    for (r <- both)
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    // null text: both conventions coalesce to no tokens
    val nulls = Seq[Option[String]](None).toDF("t").select(
      TextOps.asciiTokens(col("t")).as("native"),
      ReferenceForms.asciiTokensViaRegexp(col("t")).as("ref"),
      TextOps.asciiTokenCount(col("t")).as("cnt")).collect().head
    assert(nulls.getSeq[String](0) == Seq())
    assert(nulls.getSeq[String](1) == Seq())
    assert(nulls.getInt(2) == 0)
  }

  test("native asciiTokenCount == size(asciiTokens) through a DataFrame") {
    import spark.implicits._
    val df = vectors.toDF("t")
    val rows = df.select(
      TextOps.asciiTokenCount(col("t")).as("n"),
      size(TextOps.asciiTokens(col("t"))).as("sz")).collect()
    for (r <- rows) assert(r.getInt(0) == r.getInt(1))
  }

  test("WindowXx64Keys: count, determinism, order sensitivity, boundary safety") {
    def keys(toks: Seq[String], n: Int): Seq[Long] = {
      val a = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(UTF8String.fromString).toArray[Any])
      val k = WindowXx64Keys.keys(a, n)
      (0 until k.numElements()).map(k.getLong)
    }
    // window count = T - n + 1; short arrays empty
    assert(keys(Seq("a", "b", "c", "d"), 3).size == 2)
    assert(keys(Seq("a", "b"), 3) == Seq())
    assert(keys(Seq(), 1) == Seq())
    // identical windows hash identically, deterministically
    assert(keys(Seq("x", "y", "z"), 3) == keys(Seq("x", "y", "z"), 3))
    // order matters
    assert(keys(Seq("x", "y"), 2) != keys(Seq("y", "x"), 2))
    // boundary safety: same concatenated bytes, different token split
    assert(keys(Seq("ab", "c"), 2) != keys(Seq("a", "bc"), 2))
    // equal windows at different positions collide (that is the point)
    val k = keys(Seq("m", "m", "m", "m"), 3)
    assert(k.size == 2 && k(0) == k(1))
  }

  test("native TokenNgrams == HOF reference on adversarial vectors, n in 1..9") {
    import spark.implicits._
    import graft.ops.Decontam
    val df = vectors.toDF("t")
      .select(TextOps.asciiTokens(col("t")).as("toks"))
    for (n <- Seq(1, 2, 3, 8, 9)) {
      val both = df.select(
        Decontam.tokenNgrams(col("toks"), n).as("native"),
        ReferenceForms.tokenNgramsViaHof(col("toks"), n).as("ref")).collect()
      for (r <- both)
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
    }
    // null elements: array_join skips them and their separators — the
    // native builder must agree (AsciiTokens never emits nulls, but the
    // expression accepts any array<string>)
    val withNulls = Seq(Tuple1(Seq[String]("a", null, "b", "c"))).toDF("toks")
    val r = withNulls.select(
      Decontam.tokenNgrams(col("toks"), 2).as("native"),
      ReferenceForms.tokenNgramsViaHof(col("toks"), 2).as("ref")).collect().head
    assert(r.getSeq[String](0) == r.getSeq[String](1))
    assert(r.getSeq[String](0) == Seq("a", "b", "b c"))
  }

  test("seeded fuzz: native scans == JVM-regex reference on 1000 random strings") {
    // pure in-process equivalence against an independent implementation of
    // the same contract (java.util.regex, the engine the SQL reference form
    // compiles to) — no Spark in the loop, so the case count can be high
    val rnd = new scala.util.Random(0x60af7L) // deterministic
    val pool = "abcXYZ019 \t\n.,!?-_éÉ日😀\u0000\u007f±" // every boundary class
    val gramRe = "[A-Za-z0-9]+".r
    for (i <- 0 until 1000) {
      val len = rnd.nextInt(if (i % 10 == 0) 2000 else 80)
      val s = Seq.fill(len)(pool(rnd.nextInt(pool.length))).mkString
      val ref = gramRe.findAllIn(s).map(_.toLowerCase).toVector
      val native = {
        val a = AsciiTokens.tokens(UTF8String.fromString(s))
        (0 until a.numElements()).map(j => a.getUTF8String(j).toString).toVector
      }
      assert(native == ref, s"tokens mismatch at case $i: ${s.take(60)}")
      assert(AsciiTokenCount.count(UTF8String.fromString(s)) == ref.size,
        s"count mismatch at case $i")
      val n = 1 + rnd.nextInt(4)
      val refGrams =
        if (ref.size < n) Vector()
        else ref.sliding(n).map(_.mkString(" ")).toVector
      val nativeGrams = {
        val toksArr = AsciiTokens.tokens(UTF8String.fromString(s))
        val g = graft.functions.TokenNgrams.grams(toksArr, n)
        (0 until g.numElements()).map(j => g.getUTF8String(j).toString).toVector
      }
      assert(nativeGrams == refGrams, s"grams mismatch at case $i, n=$n")
      val keys = WindowXx64Keys.keys(
        AsciiTokens.tokens(UTF8String.fromString(s)), n)
      assert(keys.numElements() == refGrams.size, s"key count at case $i")
    }
  }

  test("type checks reject wrong input types at analysis, not at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.graft.Shims
    val df = Seq((1, Seq(1L, 2L))).toDF("i", "longs")
    def fails(c: org.apache.spark.sql.Column): Unit = {
      val e = intercept[Exception] { df.select(c).collect() }
      assert(e.getMessage.contains("requires"), e.getMessage.take(200))
    }
    fails(Shims.column(graft.functions.AsciiTokens(Shims.expression(col("i")))))
    fails(Shims.column(graft.functions.AsciiTokenCount(Shims.expression(col("i")))))
    fails(Shims.column(graft.functions.TokenNgrams(Shims.expression(col("longs")), 2)))
    fails(Shims.column(graft.functions.WindowXx64Keys(Shims.expression(col("longs")), 2)))
    intercept[IllegalArgumentException] {
      graft.functions.WindowXx64Keys(Shims.expression(col("longs")), 0)
    }
  }

  test("SQL registration: token family callable from spark.sql; non-literal n rejected") {
    for (triple <- Seq(graft.functions.GraftExtensions.GraftAsciiTokens,
                       graft.functions.GraftExtensions.GraftAsciiTokenCount,
                       graft.functions.GraftExtensions.GraftTokenNgrams,
                       graft.functions.GraftExtensions.GraftWindowKeys)) {
      val (id, info, builder) = triple
      if (!spark.sessionState.functionRegistry.functionExists(id))
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val r = spark.sql(
      "SELECT graft_ascii_tokens('Hello, World!') AS t, " +
        "graft_ascii_token_count('Hello, World!') AS c, " +
        "graft_token_ngrams(graft_ascii_tokens('a b c'), 2) AS g, " +
        "size(graft_window_keys(graft_ascii_tokens('a b c'), 2)) AS k").head()
    assert(r.getSeq[String](0) == Seq("hello", "world"))
    assert(r.getInt(1) == 2)
    assert(r.getSeq[String](2) == Seq("a b", "b c"))
    assert(r.getInt(3) == 2)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_window_keys(graft_ascii_tokens('a b'), 1 + 1)").head()
    }
    assert(e.getMessage.contains("literal INT"))
  }

  test("WindowXx64Keys through a DataFrame explode equals pure form") {
    import spark.implicits._
    val df = Seq("the quick brown fox jumps", "", "a b").toDF("t")
    val viaDf = df.select(
        explode(TokenFunctions.windowXx64Keys(TextOps.asciiTokens(col("t")), 2)).as("k"))
      .collect().map(_.getLong(0)).toSeq
    def pure(s: String): Seq[Long] = {
      val toksArr = AsciiTokens.tokens(UTF8String.fromString(s))
      val k = WindowXx64Keys.keys(toksArr, 2)
      (0 until k.numElements()).map(k.getLong)
    }
    assert(viaDf == Seq("the quick brown fox jumps", "", "a b").flatMap(pure))
  }
}
