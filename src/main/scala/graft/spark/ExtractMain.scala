package graft.spark

import java.nio.file.Paths
import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.functions.TextFunctions
import graft.model.Page

/** The spark-submit entry point (north rule: the same job runs unchanged at N
  * and 4N executors, resumable from the last committed snapshot).
  *
  * {{{
  * spark-submit --class graft.spark.ExtractMain graft.jar \
  *   --in  <parquet dir of Page rows | fixture:<nRows>> \
  *   --out <output table root> \
  *   [--units 64] [--salt 0] [--fail-after-units -1]
  * }}}
  *
  * Execution model (scale design for 10^12 rows):
  *   - the input is split into `units` deterministic url-hash buckets
  *     (pmod(xxhash64(url), units)) — the commit/resume granularity;
  *   - ONE Spark job per run: it writes every pending unit to scratch
  *     parquet partitioned by unit (the input is scanned once per run — no
  *     bucketed-input assumption), then each unit is published on its own
  *     via TableIO.commitUnit (data rename before manifest, both atomic)
  *     with its lineage counters, and the emptied scratch dir is removed.
  *     Nothing else starts a job on the happy path: parquet input is read
  *     with the `Page` schema and checked against one footer on the driver
  *     (no inference job), and the lineage is audited against the write's
  *     own committed row count (no footer-count job);
  *   - the scratch write goes through [[LocalFs]], which sets file modes
  *     without forking a `chmod` per file and directory;
  *   - on restart, committed units are skipped (the anti-join of pending
  *     against lineage — here a set difference because the manifest set is
  *     tiny and driver-side; at 10^12 scale with millions of units it becomes
  *     `pending.join(lineage, "unit", "left_anti")` as in SURVEY.md §4);
  *   - `html` never crosses a shuffle: the only wide exchange is the optional
  *     skew salt inside ExtractJob.run, and the scratch write partitions by a
  *     column computed in the same stage as the extraction.
  *
  * `--fail-after-units k` injects a crash after k committed units — the
  * resume test drives it (ResumeSpec).
  */
object ExtractMain {

  final case class Args(
      in: String = "",
      out: String = "",
      units: Int = 64,
      salt: Int = 0,
      failAfterUnits: Int = -1,
      master: Option[String] = None)

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--in" => a = a.copy(in = argv(i + 1)); i += 2
        case "--out" => a = a.copy(out = argv(i + 1)); i += 2
        case "--units" => a = a.copy(units = argv(i + 1).toInt); i += 2
        case "--salt" => a = a.copy(salt = argv(i + 1).toInt); i += 2
        case "--fail-after-units" => a = a.copy(failAfterUnits = argv(i + 1).toInt); i += 2
        case "--master" => a = a.copy(master = Some(argv(i + 1))); i += 2
        case other => throw new IllegalArgumentException(s"unknown arg $other")
      }
    }
    require(a.in.nonEmpty && a.out.nonEmpty, "--in and --out are required")
    a
  }

  /** The five `Page` columns, as the `Page` encoder reads them. */
  private lazy val PageSchema = Encoders.product[Page].schema

  /** Pages of the input. Parquet input is read with the `Page` schema, so no
    * schema-inference job runs. The check inference and `.as[Page]` gave is
    * made on the driver from one data file's footer, before any job: when
    * the file's columns differ from the `Page` schema, the input is read
    * with the file's own schema and the analyzer rejects what `.as[Page]`
    * cannot take (a missing column, `html` stored as a string), naming the
    * column. A directory without data files fails here too. */
  def pagesFor(spark: SparkSession, in: String): Dataset[Page] = {
    import spark.implicits._
    if (in.startsWith("fixture:")) {
      val n = in.stripPrefix("fixture:").toLong
      spark.range(n).as[Long]
        .mapPartitions(_.map(i => graft.fixtures.FixtureGen.fixture(i).page))
    } else {
      val read = spark.read.schema(PageSchema).parquet(in)
      val file = read.inputFiles.headOption.getOrElse(throw new IllegalArgumentException(
        s"no parquet data file under $in to check the Page columns against"))
      val fileSchema = ParquetFooter.schema(spark, file)
      val typed =
        if (PageSchema.forall(f => fileSchema.exists(g => g.name == f.name && g.dataType == f.dataType))) read
        else spark.read.schema(fileSchema).parquet(in)
      typed.select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang")).as[Page]
    }
  }

  final class InjectedFailure(msg: String) extends RuntimeException(msg)

  /** Per-unit lineage counters accumulated inside the scratch-write job
    * (layout: rows, ok, err, bytesIn, chars). Keyed adds merge elementwise;
    * the driver reads the final map once after the write action. */
  final class UnitStatsAcc
      extends org.apache.spark.util.AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]] {
    private val m = scala.collection.mutable.LongMap.empty[Array[Long]]
    private def counters(unit: Long): Array[Long] = m.getOrElseUpdate(unit, new Array[Long](5))
    override def isZero: Boolean = m.isEmpty
    override def copy(): UnitStatsAcc = {
      val c = new UnitStatsAcc
      for ((k, v) <- m) c.m(k) = v.clone()
      c
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, Array[Long])): Unit = {
      val arr = counters(v._1)
      var i = 0
      while (i < 5) { arr(i) += v._2(i); i += 1 }
    }
    /** One output row, counted in place. */
    def tally(unit: Int, ok: Boolean, bytes: Long, chars: Int): Unit = {
      val arr = counters(unit)
      arr(0) += 1
      if (ok) arr(1) += 1 else arr(2) += 1
      arr(3) += bytes
      arr(4) += chars
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]]): Unit =
      other match {
        case o: UnitStatsAcc => for ((k, v) <- o.m) add((k.toInt, v))
        case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass}")
      }
    override def value: Map[Int, Array[Long]] = m.iterator.map { case (k, v) => k.toInt -> v }.toMap
  }

  /** The four written columns the lineage counts, plus the `unit` partition
    * column. */
  private val ReadbackSchema =
    StructType.fromDDL("unit INT, error STRING, htmlBytes BIGINT, text STRING")

  /** Exact per-unit lineage recomputed from the written scratch output (one
    * aggregation scan) — the fallback when the in-flight accumulator
    * disagrees with the written row count (a stage retry applied a partition
    * twice, or a plan change moved the counting map out of the result
    * stage). Slower but ground truth: it aggregates what is ON DISK. The
    * explicit schema skips inference, which would throw on a scratch without
    * data files (a zero-row write whose count event came late). */
  private[graft] def readbackStats(spark: SparkSession,
      scratch: String): Map[Int, (Long, Long, Long, Long, Long)] =
    spark.read.schema(ReadbackSchema).parquet(scratch)
      .groupBy("unit")
      .agg(count(lit(1)).as("rows"),
        sum(when(col("error") === "", 1L).otherwise(0L)).as("ok"),
        sum(when(col("error") =!= "", 1L).otherwise(0L)).as("err"),
        sum(col("htmlBytes")).as("bytes"),
        // length() counts code points on UTF8String: the ground truth for
        // the tally's word-wide CodePoints count
        sum(length(col("text")).cast("long")).as("chars"))
      .collect()
      .map(r => r.getAs[Int]("unit") ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap

  /** How long the audit waits for the write's row count: the event that
    * carries it is delivered on the listener bus after the write returns.
    * A count that does not arrive in time takes the readback fallback. */
  private val WrittenRowsWaitMs = 10000L

  /** `numOutputRows` of the `InsertIntoHadoopFsRelationCommand` that writes
    * `dir`, taken from the session's query-execution events. The metric
    * sums the row counts of the committed write tasks, so it does not depend
    * on the accumulator it audits. Register before the write; unregister
    * after `rows` has returned. */
  private final class WrittenRows(dir: String) extends QueryExecutionListener {
    private val target = Paths.get(dir).toAbsolutePath.normalize.toString
    private val count = Promise[Long]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.executedPlan.collectFirst { case w: DataWritingCommandExec => w.cmd }.foreach {
        case c: InsertIntoHadoopFsRelationCommand if c.outputPath.toUri.getPath == target =>
          count.trySuccess(c.metrics("numOutputRows").value)
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    /** The count, or None if no matching event arrived within `waitMs`. */
    def rows(waitMs: Long): Option[Long] =
      try Some(Await.result(count.future, waitMs.millis))
      catch { case _: TimeoutException => None }
  }

  /** The exactly-once audit: the accumulated per-unit counters when their
    * row total equals the independently `written` row count, else an exact
    * readback of scratch. Accumulator updates apply once per successful
    * result-stage partition, but a stage RETRY (fetch failure on a real
    * cluster) or a plan change inserting a shuffle between the tally and the
    * write would silently inflate rows/ok/err/bytes/chars; a missing count
    * (no write event within the wait) falls back too. */
  private[graft] def audited(spark: SparkSession, scratch: String,
      acc: Map[Int, Array[Long]], written: Option[Long]): Map[Int, (Long, Long, Long, Long, Long)] =
    if (written.contains(acc.valuesIterator.map(_(0)).sum))
      acc.map { case (u, c) => u -> ((c(0), c(1), c(2), c(3), c(4))) }
    else readbackStats(spark, scratch)

  /** Run (or resume) the job; returns the number of units committed by THIS
    * invocation. Separated from main() so tests drive it in-process. */
  def run(spark: SparkSession, a: Args): Int = {
    import spark.implicits._
    TableIO.init(a.out)
    TableIO.cullScratch(a.out)
    val runId = java.util.UUID.randomUUID.toString.take(8)
    val committed = TableIO.committedUnits(a.out)
    val pending = (0 until a.units).filterNot(committed)
    if (pending.isEmpty) return 0

    val pages = pagesFor(spark, a.in)
    val scratch = TableIO.scratchDir(a.out, runId)
    // ONE extraction job writes ALL pending units (scratch partitioned by
    // unit), so the input is scanned exactly once per run whether or not it
    // is bucketed by unit (ResumeSpec asserts the job count).
    // unit id is a pure function of url: deterministic across runs and
    // parallelism levels — the resume key
    val unitOf = pmod(xxhash64(col("url")), lit(a.units.toLong)).cast("int")
    val slice =
      if (committed.isEmpty) pages // fresh run: no filter at all
      else pages.filter(unitOf.isin(pending: _*)).as[Page]
    val extracted = ExtractJob.run(slice, a.salt)
    // lineage counters ride INSIDE the write job: an always-true filter
    // whose non-deterministic UDF tallies the four scalar columns the
    // lineage needs into a per-unit accumulator — one pass over the output
    // total, no row decode/re-encode and no second scan of scratch
    // (result-stage accumulator updates are applied once per successful
    // partition; speculation is off). Exactly-once is AUDITED after the
    // write: acc row total vs the row count of the write itself, with
    // readbackStats as the exact fallback on mismatch (see audited).
    val acc = new UnitStatsAcc
    spark.sparkContext.register(acc, "unit-lineage")
    val tally = udf { (unit: Int, ok: Boolean, bytes: Long, chars: Int) =>
      acc.tally(unit, ok, bytes, chars); true
    }.asNondeterministic()
    val out = extracted.toDF()
      // the SAME unitOf val as the resume filter above — a re-typed copy
      // here could silently diverge under a one-sided edit, writing rows
      // into units the run never commits
      .withColumn("unit", unitOf)
      .withColumn("crawl_date", to_date(col("warc_ts")))
    val written = new WrittenRows(scratch)
    spark.listenerManager.register(written)
    // the listener stays registered until its event arrives: it is
    // delivered on the listener bus after the write returns
    val writtenRows = try {
      // a row the UDF is not called on (null input) is still written, and,
      // uncounted, trips the audit below
      out.filter(coalesce(tally(col("unit"),
          col("error").isNull || col("error") === "",
          col("htmlBytes"),
          // code points, as readbackStats counts them
          coalesce(TextFunctions.codePoints(col("text")), lit(0))), lit(true)))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("unit")
        // every page text is unique: a dictionary on `text` always falls back
        .option("parquet.enable.dictionary#text", "false")
        // scratch is local by construction (TableIO is java.nio)
        .options(LocalFs.writerOptions)
        // no _SUCCESS marker: each unit's manifest is the commit record, and
        // without it the scratch dir is empty once every unit is published
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(scratch)
      written.rows(WrittenRowsWaitMs)
    } finally spark.listenerManager.unregister(written)
    val stats = audited(spark, scratch, acc.value, writtenRows)
    // publish unit by unit: a crash between commits leaves a resumable
    // prefix (the --fail-after-units injection point, ResumeSpec)
    for ((u, done) <- pending.zipWithIndex) {
      if (done == a.failAfterUnits)
        throw new InjectedFailure(s"injected crash after $done units")
      val (rows, ok, err, bytes, chars) = stats.getOrElse(u, (0L, 0L, 0L, 0L, 0L))
      TableIO.commitUnit(a.out, runId,
        TableIO.UnitManifest(u, runId, rows, ok, err, bytes, chars, System.currentTimeMillis()))
    }
    TableIO.removeScratch(a.out, runId)
    pending.length
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val builder = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.session.timeZone", "UTC")
    // master comes from spark-submit on a real cluster; --master is the
    // sandbox/local override
    a.master.foreach { m =>
      // size shuffle partitions to the core count ONLY for the local[N]
      // shape; stripping digits from an arbitrary master would turn
      // spark://host:7077 into 7077 partitions
      val parts = "^local\\[([0-9]+)\\]$".r.findFirstMatchIn(m)
        .map(_.group(1)).getOrElse("32")
      builder.master(m).config("spark.sql.shuffle.partitions", parts)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = run(spark, a)
    val ms = TableIO.readManifests(a.out)
    println(s"committed $n units this run; table now ${ms.length}/${a.units} units, " +
      s"rows=${ms.map(_.rows).sum} ok=${ms.map(_.pagesOk).sum} err=${ms.map(_.pagesErr).sum} " +
      s"bytesIn=${ms.map(_.bytesIn).sum}")
    spark.stop()
  }
}
