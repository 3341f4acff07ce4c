package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.util.Try

/** Checks of the benchmark's own correctness gates: a corrupted golden row and
  * a corrupted fingerprint must each count as one failure, and an unknown
  * workload must be refused. Throws on the first violated check. */
object SelfTest {

  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what") else println(s"ok  $what")

  def run(o: Main.Opts): Unit = {
    expect(Try(Main.parse(Array("--workload", "nope", "--work", o.work, "--data", o.data))).isFailure,
      "an unknown workload is refused")

    val work = Paths.get(o.work, "selftest")
    Main.deleteTree(work)
    Files.createDirectories(work)
    val spark = Main.session(2, o.work)
    try {
      // 60 standard-mix rows, PDF rows included; then the same rows with one
      // golden text and one golden span count altered
      val in = Crawl.materialize(spark, Crawl.rowIds(0L, 60), work.resolve("in"))
      val out = work.resolve("out").toString
      Crawl.extract(spark, in, out)
      val golden = spark.read.parquet(in.golden)
      expect(Crawl.check(spark, Seq(out), golden) == ((60L, 0L)), "the seed code passes the row check")
      val corrupted = golden
        .withColumn("expected_text",
          when(col("url") === golden.orderBy("url").head().getString(0), concat(col("expected_text"), lit("x")))
            .otherwise(col("expected_text")))
        .withColumn("expected_spans",
          when(col("url") === golden.orderBy(col("url").desc).head().getString(0), col("expected_spans") + 1)
            .otherwise(col("expected_spans")))
      expect(Crawl.check(spark, Seq(out), corrupted) == ((60L, 2L)), "a corrupted text and span count are two failures")
      expect(Crawl.check(spark, Seq(out), golden.union(golden.limit(1).withColumn("url", lit("https://missing.example/"))))
        == ((61L, 1L)), "a missing row is a failure")
      expect(Crawl.check(spark, Seq(out, out, s"$out-none"), golden) == ((180L, 60L)),
        "every table is checked, and a table that committed nothing fails every row")

      val dir = s"${o.data}/sf0.1"
      val q = "d06_simhash"
      val fp = Curate.fingerprint(spark, dir, q)
      expect(Curate.pass(spark, dir, Seq(q), Map(q -> fp))._2.isEmpty, "a matching fingerprint passes")
      expect(Curate.pass(spark, dir, Seq(q), Map(q -> (fp ^ 1L)))._2 == Seq(q),
        "a corrupted fingerprint is a failure")
      expect(Curate.pass(spark, s"$dir-missing", Seq(q), Map(q -> fp))._2 == Seq(q),
        "a query that throws is a failure")

      expect(Replay.run(Crawl.rowIds(0L, 60)).mismatches == 0, "the stage replay matches Extractor.extract")
    } finally {
      Main.stop(spark)
      Main.deleteTree(work)
    }
    println("selftest passed")
  }
}
