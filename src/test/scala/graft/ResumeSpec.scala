package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{ExtractMain, TableIO}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** North-rule resumability gate: a killed run resumes from the last committed
  * snapshot and converges to byte-identical table contents vs a clean run. */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-resume-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def contentHashes(root: String): Set[(String, String)] = {
    val paths = TableIO.committedDataPaths(root)
    if (paths.isEmpty) Set.empty
    else spark.read.parquet(paths: _*)
      .select(col("url"), sha2(to_binary(col("text"), lit("utf-8")), 256))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
  }

  private def names(dir: Path): Set[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  /** The entries of `<root>/data`: committed `unit=*` dirs and any scratch. */
  private def dataEntries(root: String): Set[String] = names(Paths.get(root, "data"))

  private def unitDirs(units: Int): Set[String] = (0 until units).map(u => s"unit=$u").toSet

  /** Committed rows, `unit` column included, and per-unit manifest counters
    * (runId and commit time aside). */
  private def snapshot(root: String): (DataFrame, Map[Int, (Long, Long, Long, Long, Long)]) = {
    val rows = spark.read.option("basePath", Paths.get(root, "data").toString)
      .parquet(TableIO.committedDataPaths(root): _*)
    val manifests = TableIO.readManifests(root).map(m =>
      m.unitId -> ((m.rows, m.pagesOk, m.pagesErr, m.bytesIn, m.textChars))).toMap
    (rows, manifests)
  }

  test("crash after 8 units, resume completes; contents identical to clean run") {
    spark.sparkContext.setLogLevel("WARN")
    val clean = Files.createTempDirectory("graft-clean").toString
    val crashy = Files.createTempDirectory("graft-crashy").toString
    val in = "fixture:300"
    val units = 16

    val cleanArgs = ExtractMain.Args(in = in, out = clean, units = units)
    // single-pass contract: ONE extraction+write job per run — lineage
    // counters ride the write job in an accumulator, and the exactly-once
    // audit reads the write's own row count, so there is no stats scan of
    // the output and no footer-count job.
    val (n, jobs) = SparkJobs.counted(spark)(ExtractMain.run(spark, cleanArgs))
    assert(n.get == units)
    assert(jobs == 1, s"expected a single-pass run (1 Spark job), saw $jobs")
    assert(TableIO.committedUnits(clean) == (0 until units).toSet)

    val crashArgs = ExtractMain.Args(in = in, out = crashy, units = units, failAfterUnits = 8)
    intercept[ExtractMain.InjectedFailure] { ExtractMain.run(spark, crashArgs) }
    val afterCrash = TableIO.committedUnits(crashy)
    assert(afterCrash.size == 8, s"expected 8 committed units, got ${afterCrash.size}")

    // resume: only the pending units run; previously committed are skipped
    val resumed = ExtractMain.run(spark, crashArgs.copy(failAfterUnits = -1))
    assert(resumed == units - 8)
    assert(TableIO.committedUnits(crashy) == (0 until units).toSet)

    assert(contentHashes(crashy) == contentHashes(clean))
    assert(contentHashes(clean).size == 300)

    // lineage counters survived and total correctly
    val ms = TableIO.readManifests(crashy)
    assert(ms.map(_.rows).sum == 300)
    assert(ms.map(_.pagesErr).sum == 0)
    assert(ms.map(_.bytesIn).sum > 0)

    // idempotent: nothing pending on a third invocation
    assert(ExtractMain.run(spark, crashArgs.copy(failAfterUnits = -1)) == 0)
  }

  test("resume converges from each crash point of the publish loop") {
    val in = "fixture:300"
    val units = 16
    val clean = Files.createTempDirectory("graft-kill-clean").toString
    assert(ExtractMain.run(spark, ExtractMain.Args(in = in, out = clean, units = units)) == units)
    // a successful run leaves only committed units: its scratch is removed
    assert(dataEntries(clean) == unitDirs(units))
    val (cleanRows, cleanManifests) = snapshot(clean)
    assert(cleanRows.count() == 300)

    val k = 5 // units committed before the crash; unit k is the next to publish
    def moveScratchUnit(out: String, runId: String): Unit =
      Files.move(Paths.get(TableIO.scratchDir(out, runId), s"unit=$k"),
        Paths.get(out, "data", s"unit=$k"), StandardCopyOption.ATOMIC_MOVE)
    // each kill point as the debris it leaves on top of a --fail-after-units
    // k crash, which stops before unit k's data rename
    val killPoints: Seq[(String, (String, String) => Unit)] = Seq(
      ("before the data rename", (_: String, _: String) => ()),
      ("between the data rename and the manifest", moveScratchUnit _),
      ("between the manifest write and its move", { (out: String, runId: String) =>
        moveScratchUnit(out, runId)
        Files.writeString(Paths.get(out, "_manifests", s".tmp-unit-$k-$runId.json"),
          TableIO.renderManifest(TableIO.UnitManifest(k, runId, 1, 1, 0, 1, 1, 0L)))
      }))
    for ((point, debris) <- killPoints) {
      val out = Files.createTempDirectory("graft-kill").toString
      val args = ExtractMain.Args(in = in, out = out, units = units, failAfterUnits = k)
      intercept[ExtractMain.InjectedFailure] { ExtractMain.run(spark, args) }
      assert(TableIO.committedUnits(out) == (0 until k).toSet, point)
      val scratch = dataEntries(out).filter(_.startsWith(".run-"))
      assert(scratch.size == 1, s"$point: scratch dirs $scratch")
      val runId = scratch.head.stripPrefix(".run-")
      assert(!Files.exists(Paths.get(out, "data", s"unit=$k")), point)
      assert(Files.isDirectory(Paths.get(TableIO.scratchDir(out, runId), s"unit=$k")), point)
      debris(out, runId)

      assert(ExtractMain.run(spark, args.copy(failAfterUnits = -1)) == units - k, point)
      val (rows, manifests) = snapshot(out)
      assert(manifests == cleanManifests, point)
      assert(rows.exceptAll(cleanRows).isEmpty && cleanRows.exceptAll(rows).isEmpty, point)
      val tmp = Files.walk(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.startsWith(".tmp-")).toList
      assert(tmp.isEmpty, s"$point: $tmp")
      // the resume removed its own scratch; the crashed run's is left for
      // cullScratch, which waits out its grace period
      assert(dataEntries(out) == unitDirs(units) + s".run-$runId", point)
    }
  }

  test("removeScratch removes only an empty scratch dir; cullScratch takes the rest") {
    val out = Files.createTempDirectory("graft-scratch").toString
    TableIO.init(out)
    val empty = Files.createDirectories(Paths.get(TableIO.scratchDir(out, "empty01")))
    assert(TableIO.removeScratch(out, "empty01"))
    assert(!Files.exists(empty))
    assert(!TableIO.removeScratch(out, "missing1"))
    val stray = Paths.get(TableIO.scratchDir(out, "stray001"), "unit=3", "part-0.parquet")
    Files.createDirectories(stray.getParent)
    Files.writeString(stray, "x")
    assert(!TableIO.removeScratch(out, "stray001"))
    assert(Files.exists(stray), "a scratch that is not empty is not deleted recursively")
    // once past the grace period, the next run's cull removes it
    val old = FileTime.fromMillis(System.currentTimeMillis() - 7L * 3600 * 1000)
    for (p <- Seq(stray, stray.getParent, stray.getParent.getParent)) Files.setLastModifiedTime(p, old)
    TableIO.cullScratch(out)
    assert(dataEntries(out).isEmpty)
  }

  test("in-job lineage tally equals a readback of the committed data") {
    // the happy path: a clean single-pass run's per-unit manifests must be
    // exactly what an aggregation over its committed data gives, with an
    // error row (bytes counted, no text) and non-BMP text (code points)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tally").toString
    val ts = new java.sql.Timestamp(0L)
    val extra = Seq(
      graft.model.Page("https://probe.example/truncated-pdf", ts,
        "%PDF-1.4\n1 0 obj\n<< /Type /Catalog".getBytes("US-ASCII"), "", "en"),
      graft.model.Page("https://probe.example/non-bmp", ts,
        "<p>emoji \uD83D\uDE00 and math \uD835\uDC00 in a paragraph of words</p>".getBytes("UTF-8"), "", "en"))
    val pages = (0L until 120L).map(i => graft.fixtures.FixtureGen.fixture(i).page) ++ extra
    val in = dir + "/in"
    spark.createDataset(pages).repartition(3).write.parquet(in)
    val out = dir + "/out"
    val units = 8
    val (n, jobs) = SparkJobs.counted(spark)(
      ExtractMain.run(spark, ExtractMain.Args(in = in, out = out, units = units)))
    assert(n.get == units)
    // the happy path is the write alone: no schema-inference job for the
    // parquet input, no audit job; a readbackStats fallback (the audit found
    // the tally short or long) would add jobs
    assert(jobs == 1, s"expected a single-pass run (1 Spark job), saw $jobs")
    val truth = ExtractMain.readbackStats(spark, out + "/data")
    val manifests = TableIO.readManifests(out).map(m =>
      m.unitId -> ((m.rows, m.pagesOk, m.pagesErr, m.bytesIn, m.textChars))).toMap
    assert(manifests.keySet == (0 until units).toSet)
    for (u <- 0 until units)
      assert(manifests(u) == truth.getOrElse(u, (0L, 0L, 0L, 0L, 0L)), s"unit $u")
    val totals = manifests.values.toSeq
    assert(totals.map(_._1).sum == pages.length)
    assert(totals.map(_._3).sum == 1, "the truncated PDF is the one error row")
  }

  test("zero-row input commits empty manifests cleanly (audit must not crash on empty scratch)") {
    // a fresh run over an empty input writes no file to scratch (no
    // _SUCCESS marker); the exactly-once audit (0 written, 0 tallied) must
    // not read scratch, the run must commit all units at 0, and the empty
    // scratch dir is removed
    val out = Files.createTempDirectory("graft-empty").toString
    val args = ExtractMain.Args(in = "fixture:0", out = out, units = 4)
    assert(ExtractMain.run(spark, args) == 4)
    assert(TableIO.committedUnits(out) == (0 until 4).toSet)
    assert(dataEntries(out) == unitDirs(4))
    val ms = TableIO.readManifests(out)
    assert(ms.map(_.rows).sum == 0)
    // idempotent second run: nothing pending
    assert(ExtractMain.run(spark, args) == 0)
  }

  test("audit: a written count that differs from the tally commits readbackStats") {
    // the decision run() makes after its write, driven with a tally that a
    // retried stage inflated (unit 1 counted twice) and with a missing count
    import spark.implicits._
    val out = Files.createTempDirectory("graft-audit").toString
    TableIO.init(out)
    val runId = "audit01"
    val scratch = TableIO.scratchDir(out, runId)
    Seq(("u://1", 0, "", 100L, "hello"), ("u://2", 0, "Boom: x", 50L, ""),
      ("u://3", 1, "", 10L, "ab\uD83D\uDE00"), ("u://4", 2, "", 40L, "xyz"))
      .toDF("url", "unit", "error", "htmlBytes", "text")
      .write.partitionBy("unit").parquet(scratch)
    val truth = ExtractMain.readbackStats(spark, scratch)
    val inflated = Map(0 -> Array(2L, 1L, 1L, 150L, 5L), 1 -> Array(2L, 2L, 0L, 20L, 6L),
      2 -> Array(1L, 1L, 0L, 40L, 3L))
    val stats = ExtractMain.audited(spark, scratch, inflated, Some(4L))
    assert(stats == truth)
    assert(ExtractMain.audited(spark, scratch, inflated, None) == truth)
    // a matching count trusts the tally as it is
    assert(ExtractMain.audited(spark, scratch, inflated, Some(5L))(1) == ((2L, 2L, 0L, 20L, 6L)))
    for (u <- 0 until 3) {
      val (rows, ok, err, bytes, chars) = stats(u)
      TableIO.commitUnit(out, runId, TableIO.UnitManifest(u, runId, rows, ok, err, bytes, chars, 0L))
    }
    val manifests = TableIO.readManifests(out).map(m =>
      m.unitId -> ((m.rows, m.pagesOk, m.pagesErr, m.bytesIn, m.textChars))).toMap
    assert(manifests == ExtractMain.readbackStats(spark, out + "/data"))
    assert(manifests(1) == ((1L, 1L, 0L, 10L, 3L)))
  }

  test("audit fallback over a scratch without data files finds no units") {
    // a zero-row write whose count event missed the wait: the readback must
    // not need a data file to infer a schema from
    val out = Files.createTempDirectory("graft-audit-empty").toString
    TableIO.init(out)
    val scratch = Files.createDirectories(Paths.get(TableIO.scratchDir(out, "empty01"))).toString
    assert(ExtractMain.audited(spark, scratch, Map.empty, None) == Map.empty)
  }

  test("manifest json round-trips") {
    val m = TableIO.UnitManifest(7, "abc123", 10, 9, 1, 12345L, 999L, 1700000000000L)
    assert(TableIO.parseManifest(TableIO.renderManifest(m)) == m)
  }

  test("readbackStats fallback computes the same per-unit lineage the accumulator would") {
    // ground-truth equivalence of the audit fallback: hand-built rows written
    // partitioned by unit, aggregated back — must match exact expectations
    // (incl. code-point char counting for non-BMP text)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-readback").toString + "/scratch"
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(
      ("u://1", 0, "", 100L, "hello"),            // unit 0, ok, 5 chars
      ("u://2", 0, "Boom: x", 50L, ""),           // unit 0, err
      ("u://3", 1, "", 10L, "ab\uD83D\uDE00"),    // unit 1, ok, 3 code points
      ("u://4", 1, "", 40L, "xyz")                // unit 1, ok
    ).toDF("url", "unit", "error", "htmlBytes", "text")
    rows.write.partitionBy("unit").parquet(dir)
    val stats = ExtractMain.readbackStats(spark, dir)
    assert(stats(0) == ((2L, 1L, 1L, 150L, 5L)), stats(0).toString)
    assert(stats(1) == ((2L, 2L, 0L, 50L, 6L)), stats(1).toString)
  }
}
