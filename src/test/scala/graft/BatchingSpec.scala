package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.spark.ExtractJob

/** Batching strategies must be result-transparent: salted and size-sorted
  * runs produce exactly the rows of the plain run. */
class BatchingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-batching-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val pages = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.range(300).as[Long].mapPartitions(_.map(i => fixtures.FixtureGen.fixture(i).page))
  }

  private def resultMap(ds: org.apache.spark.sql.Dataset[graft.model.ExtractedPage]) =
    ds.collect().map(p => p.url -> (p.text, p.spans.length, p.error)).toMap

  test("sizeSort run equals plain run") {
    assert(resultMap(ExtractJob.run(pages, salt = 4, sizeSort = true)) ==
      resultMap(ExtractJob.run(pages, salt = 4)))
  }

  test("skew salt spreads rows across ALL salt partitions (no murmur3-collided empties)") {
    // repartitioning on the folded [0,salt) value used to leave ~1/e of the
    // partitions empty; the full-cardinality hash must fill every one
    val salted = ExtractJob.run(pages, salt = 16)
    val sizes = salted.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == 16)
    assert(sizes.count(_ == 0) == 0, s"empty partitions: ${sizes.mkString(",")}")
  }
}
