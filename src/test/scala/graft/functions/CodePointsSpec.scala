package graft.functions

import java.nio.charset.StandardCharsets
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The word-wide code-point count against `UTF8String.numChars`, over
  * generated strings whose byte lengths cross the 8-byte step, held at a
  * non-zero offset inside padding that would be miscounted if the offset were
  * ignored; then interpreted eval against codegen through a DataFrame. */
class CodePointsSpec extends AnyFunSuite {

  /** One piece of text: ASCII runs of 0–17 bytes, 2-, 3- and 4-byte
    * sequences, and unpaired surrogates (Spark encodes them as `?`). */
  private val piece: Gen[String] = Gen.oneOf(
    Gen.choose(0, 17).flatMap(n => Gen.listOfN(n, Gen.choose(0, 127).map(_.toChar)).map(_.mkString)),
    Gen.choose(0x80, 0x7ff).map(c => c.toChar.toString),
    Gen.oneOf(Gen.choose(0x800, 0xd7ff), Gen.choose(0xe000, 0xffff)).map(c => c.toChar.toString),
    Gen.choose(0x10000, 0x10ffff).map(c => new String(Character.toChars(c))),
    Gen.oneOf(Gen.choose(0xd800, 0xdbff), Gen.choose(0xdc00, 0xdfff)).map(c => c.toChar.toString))

  private val text: Gen[String] = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))

  /** Padding bytes before and after a slice: continuation bytes and a lead
    * byte count wrong if the slice bounds are not honoured. */
  private val pad: Gen[Array[Byte]] =
    Gen.choose(0, 11).flatMap(n => Gen.listOfN(n, Gen.oneOf(0x80, 0xbf, 0xe2, 0x41)).map(_.map(_.toByte).toArray))

  private val slices: Gen[UTF8String] = for {
    s <- text
    before <- pad
    after <- pad
  } yield {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    UTF8String.fromBytes(before ++ bytes ++ after, before.length, bytes.length)
  }

  test("count equals numChars on generated slices") {
    val prop = Prop.forAll(slices) { u =>
      Prop(CodePoints.count(u) == u.numChars) :| s"bytes=${u.getBytes.map(b => f"$b%02x").mkString(" ")}"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(600).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("interpreted eval equals codegen and length() through a DataFrame, null included") {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-codepoints-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val strings = Gen.listOfN(300, text).apply(Gen.Parameters.default, Seed(20261019L)).get :+ null
    // an RDD, not a LocalRelation: the optimizer would fold a local
    // relation's projection with interpreted eval in both modes
    val df = spark.createDataFrame(spark.sparkContext.parallelize(strings.map(Row(_)), 4),
      StructType(Seq(StructField("s", StringType))))
    def counts(conf: (String, String)*): Seq[(Any, Any)] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(TextFunctions.codePoints(col("s")), length(col("s"))).collect()
        .map(r => (r.get(0), r.get(1))).toSeq
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val interpreted = counts("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val generated = counts("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
    assert(interpreted.length == strings.length)
    assert(interpreted == generated)
    interpreted.foreach { case (cp, len) => assert(cp == len) }
    assert(interpreted.count(_._1 == null) == 1)
  }
}
