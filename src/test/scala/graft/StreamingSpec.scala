package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.fixtures.FixtureGen
import graft.spark.ExtractJob
import graft.streaming.StreamExtract

/** The streaming path must produce byte-identical results to the batch path —
  * one kernel, two execution modes. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("micro-batch extraction matches batch extraction byte-for-byte") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val fixtures = FixtureGen.corpus(120).toVector
    val stream = MemoryStream[graft.model.Page]
    val q = ExtractJob.run(stream.toDS())
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("append").start()

    // two micro-batches
    stream.addData(fixtures.take(60).map(_.page))
    q.processAllAvailable()
    stream.addData(fixtures.drop(60).map(_.page))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("stream_out")
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed.size == 120)
    for (fx <- fixtures) {
      assert(streamed(fx.page.url) == fx.expectedText, s"stream mismatch for ${fx.page.url}")
    }
  }

  test("stateful streaming dedup passes first content occurrence, drops repeats across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = FixtureGen.corpus(30).toVector.map(_.page)
    // repeats: same html under different urls => identical extracted text
    val dupes = base.take(10).map(p => p.copy(url = p.url + "#mirror"))
    val stream = MemoryStream[graft.model.Page]
    val q = StreamExtract.dedupStream(ExtractJob.run(stream.toDS()))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    stream.addData(base)
    q.processAllAvailable()
    stream.addData(dupes) // second batch: all duplicates of already-seen content
    q.processAllAvailable()
    q.stop()

    val urls = spark.table("dedup_out").select("url").collect().map(_.getString(0)).toSet
    assert(urls.size == 30, s"expected 30 unique-content rows, got ${urls.size}")
    assert(!urls.exists(_.endsWith("#mirror")), "a duplicate slipped through")
  }

  test("stateful dedup passes every error/empty row (keyed by url, not the empty text)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts = new java.sql.Timestamp(0L)
    // three distinct failed/empty pages share text="" but must all pass
    val broken = Seq(
      graft.model.Page("probe://e1", ts, null, "", "en"),
      graft.model.Page("probe://e2", ts, Array.emptyByteArray, "", "en"),
      graft.model.Page("probe://e3", ts,
        "<nav><a href='/'>x</a></nav>".getBytes, "", "en"))
    val stream = MemoryStream[graft.model.Page]
    val q = StreamExtract.dedupStream(ExtractJob.run(stream.toDS()))
      .writeStream.format("memory").queryName("dedup_err_out")
      .outputMode("append").start()
    stream.addData(broken)
    q.processAllAvailable()
    q.stop()
    val urls = spark.table("dedup_err_out").select("url").collect().map(_.getString(0)).toSet
    assert(urls == Set("probe://e1", "probe://e2", "probe://e3"))
  }
}
