package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.ops.{Decontam, TextOps}

/** Planted-truth tests for benchmark decontamination (n-gram overlap). */
class DecontamSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-decontam-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("wordNgrams: space-joined, case-folded, short docs empty") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val out = Seq((0L, "The quick Brown fox"), (1L, "two words"), (2L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Decontam.tokenNgrams(TextOps.asciiTokens(col("text")), 3).as("g"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    assert(out(0L) == Seq("the quick brown", "quick brown fox"))
    assert(out(1L).isEmpty && out(2L).isEmpty)
  }

  test("flagOverlap counts occurrences of benchmark grams and flags docs") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "x alpha beta gamma y"),          // 1 hit (alpha beta gamma)
      (1L, "beta gamma delta beta gamma delta"), // 2 occurrences, see below
      (2L, "no overlap here at all"),
      (3L, "al pha beta")                     // <3 shared: 1 gram, no hit
    ).toDF("doc_id", "text")
    val m = Decontam.flagOverlap(corpus, bench, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Int]("contaminated")))).toMap
    assert(m(0L) == ((1L, 1)))
    // doc 1 grams: [beta gamma delta, gamma delta beta, delta beta gamma,
    // beta gamma delta] — "beta gamma delta" (benchmark gram) occurs twice
    assert(m(1L) == ((2L, 1)))
    assert(m(2L) == ((0L, 0)))
    assert(m(3L) == ((0L, 0)))
  }

  test("a benchmark doc inside the corpus is self-flagged") {
    import spark.implicits._
    val bench = Seq((0L, "one two three four")).toDF("doc_id", "text")
    val corpus = bench.union(Seq((1L, "five six seven")).toDF("doc_id", "text"))
    val m = Decontam.flagOverlap(corpus, bench, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("contaminated")).toMap
    assert(m(0L) == 1 && m(1L) == 0)
  }
}
