package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.fixtures.FixtureGen
import graft.model.Page
import graft.spark.{ExtractJob, ExtractMain, TableIO}
import perfbench.Main.{Cores, Metric, Result, median, secondsOf}

/** `web_crawl`: fresh `ExtractMain.run` passes over a generated corpus of the
  * standard fixture mix (96 % HTML, 2 % dialect PDF, 2 % real PDF), no salt.
  *
  * The seed picks the fixture rowId range; `FixtureGen` is a pure function of
  * rowId, so every row has golden text and span counts. The corpus is
  * written once per run as parquet before any timed window and outside the
  * set-up time; the program only ever sees that parquet. */
object Crawl {

  /** Rows of the measured corpus. */
  val Rows = 6000
  /** Rows per commit unit: the 60k-page, 64-unit reference run's ratio, so
    * the number of unit files per pass scales with the corpus. */
  val RowsPerUnit = 1000
  /** `--seconds` buys one timed pass per `PassSeconds` (at least 3): a pass
    * of the seed code takes about 2.2 s plus the full GCs of the heap
    * reading. A fixed pass count, not a deadline, so every run stops at the
    * same point of the JIT's warm-up curve. */
  val PassSeconds = 3.0
  /** Full passes of the warm-up after the cold one. */
  val WarmFullPasses = 4
  /** Salt partitions of the traced salted pass (the skew-spread layer). */
  val Salt = 16

  /** One materialized corpus: Page parquet for the program, golden parquet
    * (url, expected_text, expected_spans) for the check. */
  final case class Input(pages: String, golden: String, ids: Seq[Long], rows: Long, bytes: Long)

  /** The seed's rowIds; ranges of different seeds are disjoint. */
  def rowIds(seed: Long, n: Int = Rows): Seq[Long] = {
    val from = (java.lang.Math.floorMod(seed, 10000L) + 1) * 1000000L
    (0 until n).map(from + _)
  }

  def materialize(spark: SparkSession, ids: Seq[Long], dir: Path): Input = {
    import spark.implicits._
    val all = spark.sparkContext.parallelize(ids, Cores).map { i =>
      val f = FixtureGen.fixture(i)
      (f.page.url, f.page.warc_ts, f.page.html, f.page.text, f.page.lang, f.expectedText, f.expectedSpanCount)
    }.toDF("url", "warc_ts", "html", "text", "lang", "expected_text", "expected_spans")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pages = dir.resolve("pages").toString
      val golden = dir.resolve("golden").toString
      all.select("url", "warc_ts", "html", "text", "lang").write.parquet(pages)
      all.select("url", "expected_text", "expected_spans").write.parquet(golden)
      val bytes = all.agg(sum(length(col("html")).cast("long"))).head().getLong(0)
      Input(pages, golden, ids, ids.length.toLong, bytes)
    } finally all.unpersist(true)
  }

  /** The job under test: one fresh `ExtractMain.run`; the units it committed. */
  def extract(spark: SparkSession, in: Input, out: String): Int =
    ExtractMain.run(spark, ExtractMain.Args(in = in.pages, out = out,
      units = math.max(1, in.rows.toInt / RowsPerUnit)))

  /** `ExtractJob.run` over the corpus and a count: scan plus extraction,
    * without the write and commit. */
  def extractOnly(spark: SparkSession, in: Input, salt: Int = 0, sizeSort: Boolean = false): Long =
    ExtractJob.run(ExtractMain.pagesFor(spark, in.pages), salt, sizeSort)
      .toDF().agg(count(lit(1))).head().getLong(0)

  /** (rows attempted, rows failed) of committed tables against the golden
    * values, in one Spark job. Per table, every output row whose url is not
    * golden, that is an error row, or whose text differs in any byte or whose
    * span count differs fails; so does every golden url without any output
    * row, and every duplicate of a good row. */
  def check(spark: SparkSession, outs: Seq[String], golden: DataFrame): (Long, Long) = {
    val rows = golden.count()
    val tables = outs.zipWithIndex.map { case (out, i) => (TableIO.committedDataPaths(out), i) }
    val (empty, written) = tables.partition(_._1.isEmpty)
    val failedEmpty = rows * empty.length
    if (written.isEmpty) return (rows * outs.length, failedEmpty)
    val got = written.map { case (paths, i) =>
      spark.read.parquet(paths: _*).select(lit(i).as("table"), col("url"), col("text"),
        size(col("spans")).as("n_spans"), col("error"))
    }.reduce(_ union _)
    val good = col("expected_text").isNotNull && col("error") === "" &&
      (col("text") <=> col("expected_text")) && col("n_spans") === col("expected_spans")
    val perTable = got.join(broadcast(golden), Seq("url"), "left")
      .groupBy("table")
      .agg(count(lit(1)).as("out"), count(when(good, 1)).as("good"),
        countDistinct(when(col("expected_text").isNotNull, col("url"))).as("matched"),
        countDistinct(when(good, col("url"))).as("distinct_good"))
      .collect()
    val failed = perTable.map { r =>
      val (out, good, matched, distinctGood) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      (out - good) + (rows - matched) + (good - distinctGood)
    }.sum + rows * (written.length - perTable.length)
    (rows * outs.length, failed + failedEmpty)
  }

  /** Total bytes of the committed data files of a table. */
  def tableBytes(out: String): Long = {
    val st = Files.walk(Paths.get(out, "data"))
    try st.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        p.getParent.getFileName.toString.startsWith("unit="))
      .map(Files.size).sum
    finally st.close()
  }

  def run(o: Main.Opts): Result = {
    val work = Paths.get(o.work, s"web_crawl-${o.seed}")
    Main.deleteTree(work)
    Files.createDirectories(work)
    var passNo = 0
    def freshOut(): String = { passNo += 1; work.resolve(s"out-$passNo").toString }

    val (spark0, in, setupS) = Main.setUp(3, o.work, s => materialize(s, rowIds(o.seed), work.resolve("in"))) {
      (s, in) =>
        // the per-pass cost keeps falling for several passes while the JIT
        // compiles the kernel and the write path; an extract-only pass feeds
        // the kernel more cheaply than a full one
        def full(): Unit = {
          val out = freshOut()
          extract(s, in, out)
          Main.deleteTree(Paths.get(out))
        }
        full()
        extractOnly(s, in)
        for (_ <- 0 until WarmFullPasses) full()
    }
    val pass = new Passes(spark0, in, o.work, () => freshOut())
    try {
      val metrics =
        if (!o.trace) {
          val wall = median(pass.timed(math.max(3, math.round(o.seconds / PassSeconds).toInt), keep = true))
          Seq(
            Metric("rows_per_s", in.rows / wall, "1/s"),
            Metric("input_mb_per_s", in.bytes / 1e6 / wall, "MB/s"),
            Metric("job_s", wall, "s"),
            Metric("setup_s", setupS, "s"),
            Metric("heap_peak_mb", pass.heapPeakMb, "MB"))
        } else pass.traced() ++ Curate.zeroOps
      pass.checkKept()
      val failedFrac =
        if (o.trace) Seq(Metric("failed_frac", pass.failed.toDouble / pass.attempted, "ratio")) else Nil
      Result(pass.attempted, pass.failed, metrics ++ failedFrac)
    } finally {
      Main.stop(pass.spark)
      Main.deleteTree(work)
    }
  }

  /** The measured passes of one run and their correctness tally. */
  private final class Passes(var spark: SparkSession, in: Input, scratch: String,
      freshOut: () => String) {
    var attempted = 0L
    var failed = 0L
    var heapPeakMb = 0.0
    private val kept = collection.mutable.ArrayBuffer.empty[String]

    /** Checks every kept output against the golden values, then drops them. */
    def checkKept(): Unit = if (kept.nonEmpty) {
      val (a, f) = check(spark, kept.toSeq, spark.read.parquet(in.golden))
      attempted += a
      failed += f
      kept.foreach(out => Main.deleteTree(Paths.get(out)))
      kept.clear()
    }

    /** `n` back-to-back `ExtractMain.run` passes; their wall times. Kept
      * outputs are checked after the timed window. */
    def timed(n: Int, keep: Boolean): Seq[Double] = {
      val walls = collection.mutable.ArrayBuffer.empty[Double]
      while (walls.length < n) {
        val out = freshOut()
        val (units, dt) = secondsOf(extract(spark, in, out))
        require(units > 0, s"pass committed no units: $out")
        walls += dt
        if (keep) kept += out else Main.deleteTree(Paths.get(out))
        heapPeakMb = math.max(heapPeakMb, Main.liveHeapMb())
      }
      System.err.println(s"perfbench: passes ${walls.map(w => f"$w%.3f").mkString(" ")} s")
      walls.toSeq
    }

    /** The traced run: under the task listener the cumulative scan /
      * +extract / +write-and-commit passes and a salted, size-sorted extract
      * pass; untraced full passes for the overhead baseline; one pass at
      * local[1]; the one-thread kernel stage replay. */
    def traced(): Seq[Metric] = {
      val sc = spark.sparkContext
      val stats = new TaskStats
      // median wall of three labelled runs, and the median run's task totals
      def rep(label: String)(f: => Any): (Double, TaskStats.Totals) = {
        val runs = (0 until 3).map { i =>
          val l = s"$label-$i"
          (TaskStats.labelled(sc, l)(secondsOf(f)._2), l)
        }.sortBy(_._1)
        (runs(1)._1, stats.get(sc, runs(1)._2))
      }
      val ((scan, _), (ext, _), (salted, saltTot)) = TaskStats.attached(sc, stats)((
        rep("scan")(ExtractMain.pagesFor(spark, in.pages)
          .foreachPartition((it: Iterator[Page]) => it.foreach(_ => ()))),
        rep("extract")(extractOnly(spark, in)),
        rep("salted")(extractOnly(spark, in, Salt, sizeSort = true))))
      // the full job: each traced pass (listener totals, commit tail) follows
      // an untraced one, so that the trace overhead is not confounded with
      // the warm-up curve
      val (untracedWalls, full) = (0 until 3).map { i =>
        val untracedWall = timed(1, keep = false).head
        val label = s"full-$i"
        val out = freshOut()
        val (units, dt, endMs) = TaskStats.attached(sc, stats) {
          val (units, dt) = TaskStats.labelled(sc, label)(secondsOf(extract(spark, in, out)))
          (units, dt, System.currentTimeMillis())
        }
        kept += out
        (untracedWall, (dt, units, stats.get(sc, label), endMs, tableBytes(out)))
      }.unzip
      val untraced = median(untracedWalls)
      checkKept()
      val (wall, units, tot, endMs, outBytes) = full.sortBy(_._1).apply(1) // the median pass
      val durs = if (tot.durationsMs.isEmpty) Seq(0.0) else tot.durationsMs.map(_.toDouble).toSeq

      // the same job on the same input at local[1]; the JIT is already warm
      Main.stop(spark)
      spark = Main.session(1, scratch)
      val oneCore = in.rows / timed(1, keep = true).head
      checkKept()

      val rp = Replay.run(in.ids)
      attempted += rp.rows
      failed += rp.mismatches
      Seq(
        Metric("spark.scan_s", scan, "s"),
        Metric("spark.extract_s", ext - scan, "s"),
        Metric("spark.write_commit_s", wall - ext, "s"),
        Metric("spark.salt_sort_s", salted - ext, "s"),
        Metric("spark.task_cpu_s", tot.cpuNs / 1e9, "s"),
        Metric("spark.gc_s", tot.gcMs / 1e3, "s"),
        Metric("spark.tasks", tot.tasks.toDouble, "count"),
        Metric("spark.task_p50_ms", median(durs), "ms"),
        Metric("spark.task_max_ms", durs.max, "ms"),
        Metric("spark.core_idle_frac", 1.0 - tot.runMs / 1e3 / (Cores * wall), "ratio"),
        Metric("spark.shuffle_write_mb", saltTot.shuffleWriteBytes / 1e6, "MB"),
        Metric("spark.shuffle_read_mb", saltTot.shuffleReadBytes / 1e6, "MB"),
        Metric("spark.spill_mb", (tot.spillBytes + saltTot.spillBytes) / 1e6, "MB"),
        Metric("tableio.commit_s", math.max(0L, endMs - tot.lastJobEndMs) / 1e3, "s"),
        Metric("tableio.units_committed", units.toDouble, "count"),
        Metric("tableio.out_bytes_per_in_byte", outBytes.toDouble / in.bytes, "ratio"),
        Metric("scaling.rows_per_s_1core", oneCore, "1/s"),
        Metric("scaling.eff_1_to_4", in.rows / untraced / (Cores * oneCore), "ratio"),
        Metric("trace_overhead_frac", wall / untraced - 1.0, "ratio")) ++ rp.metrics
    }
  }

  /** Per-layer metrics of the crawl layers, all zero: a workload that does
    * not call a layer spends no time in it. */
  def zeroLayers: Seq[Metric] = {
    val names = Seq(
      "spark.scan_s" -> "s", "spark.extract_s" -> "s", "spark.write_commit_s" -> "s",
      "spark.salt_sort_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.tasks" -> "count", "spark.task_p50_ms" -> "ms", "spark.task_max_ms" -> "ms",
      "spark.core_idle_frac" -> "ratio", "spark.shuffle_write_mb" -> "MB",
      "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
      "tableio.commit_s" -> "s", "tableio.units_committed" -> "count",
      "tableio.out_bytes_per_in_byte" -> "ratio",
      "scaling.rows_per_s_1core" -> "1/s", "scaling.eff_1_to_4" -> "ratio")
    names.map { case (n, u) => Metric(n, 0.0, u) } ++ Replay.zero
  }
}
