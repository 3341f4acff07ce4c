package graft.spark

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style table layer over plain parquet directories (no Iceberg
  * runtime jar is available in this sandbox — SURVEY.md §7.0): snapshot
  * isolation and resume via per-unit manifest files committed with an atomic
  * temp-write + rename, the same semantics an Iceberg catalog would give us.
  * The writer is deliberately small and behind this object so a real Iceberg
  * `writeTo(...).append()` can be slotted in unchanged at cluster deploy.
  *
  * Layout:
  * {{{
  *   <root>/data/unit=<id>/part-….parquet  -- committed data for one url bucket
  *   <root>/_manifests/unit-<id>.json    -- commit record + lineage counters
  *   <root>/data/.run-<runId>/...        -- a live run's uncommitted scratch
  *                                          (a successful run removes it;
  *                                          crash debris is ignored by readers
  *                                          and culled by a later run)
  * }}}
  *
  * A unit is VISIBLE iff its manifest file exists; data-dir renames happen
  * strictly before the manifest write, so readers never observe partial data
  * (the reference's graceful-degradation discipline applied to commits,
  * /root/reference/src/oarocr/ocr.rs:510-523 — fail a unit, never the table).
  */
object TableIO {

  /** Per-unit lineage record (north rule: per-partition lineage rows +
    * counters persisted so a killed run resumes from the last committed
    * snapshot). */
  final case class UnitManifest(
      unitId: Int,
      runId: String,
      rows: Long,
      pagesOk: Long,
      pagesErr: Long,
      bytesIn: Long,
      textChars: Long,
      committedAtEpochMs: Long
  )

  /** Files.list holds a directory fd until the stream is closed — long runs
    * list thousands of unit dirs, so every listing goes through this. */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val st = Files.list(dir)
    try f(st.iterator().asScala) finally st.close()
  }

  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")
  private def dataDir(root: String): Path = Paths.get(root, "data")

  def init(root: String): Unit = {
    Files.createDirectories(manifestDir(root))
    Files.createDirectories(dataDir(root))
  }

  /** Committed unit ids — the table's current snapshot. */
  def committedUnits(root: String): Set[Int] = {
    val md = manifestDir(root)
    if (!Files.isDirectory(md)) return Set.empty
    listDir(md)(_.map(_.getFileName.toString)
      .collect { case s if s.startsWith("unit-") && s.endsWith(".json") =>
        s.stripPrefix("unit-").stripSuffix(".json").toInt
      }
      .toSet)
  }

  def readManifests(root: String): Seq[UnitManifest] = {
    val md = manifestDir(root)
    if (!Files.isDirectory(md)) return Seq.empty
    listDir(md)(_.filter(p => p.getFileName.toString.startsWith("unit-"))
      .map(p => parseManifest(Files.readString(p)))
      .toSeq).sortBy(_.unitId)
  }

  /** Scratch dir for a run's pending unit output. */
  def scratchDir(root: String, runId: String): String =
    dataDir(root).resolve(s".run-$runId").toString

  /** Publish one unit: move its scratch dir into place, then atomically write
    * the manifest. Idempotent — a unit already committed is left untouched. */
  def commitUnit(root: String, runId: String, m: UnitManifest): Boolean = {
    val md = manifestDir(root)
    val target = md.resolve(s"unit-${m.unitId}.json")
    if (Files.exists(target)) return false
    val src = Paths.get(scratchDir(root, runId), s"unit=${m.unitId}")
    val dst = dataDir(root).resolve(s"unit=${m.unitId}")
    if (Files.exists(dst)) deleteRecursively(dst) // debris from a crashed run
    if (Files.exists(src)) Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    else Files.createDirectories(dst) // empty unit: commit the fact it is done
    val tmp = md.resolve(s".tmp-unit-${m.unitId}-$runId.json")
    Files.writeString(tmp, renderManifest(m))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    true
  }

  /** Remove a run's scratch dir once every unit has been moved out of it.
    * Non-recursive: a scratch that still holds anything is left in place for
    * [[cullScratch]]. True iff the directory was removed. */
  def removeScratch(root: String, runId: String): Boolean =
    try Files.deleteIfExists(Paths.get(scratchDir(root, runId)))
    catch { case _: java.nio.file.DirectoryNotEmptyException => false }

  /** Remove scratch debris left by previous CRASHED runs. A scratch dir is
    * only culled once it has been untouched for `graceMs` (default 6 h):
    * an unconditional cull would delete a CONCURRENT run's in-flight
    * scratch (scheduler retry racing a still-live run) and fail its write
    * or its exactly-once audit mid-job. mtime refreshes as the live run
    * writes files, so only genuinely dead runs age past the grace. */
  def cullScratch(root: String, graceMs: Long = 6L * 3600 * 1000): Unit = {
    val dd = dataDir(root)
    val cutoff = System.currentTimeMillis() - graceMs
    def deadDir(p: java.nio.file.Path): Boolean =
      try {
        val newest = listDir(p)(_.map(f =>
          Files.getLastModifiedTime(f).toMillis).maxOption.getOrElse(0L))
        math.max(newest, Files.getLastModifiedTime(p).toMillis) < cutoff
      } catch { case _: java.io.IOException => false } // vanished: racing its own run
    if (Files.isDirectory(dd))
      listDir(dd)(_.filter(_.getFileName.toString.startsWith(".run-")).toList)
        .filter(deadDir)
        .foreach(deleteRecursively)
    // manifest-dir debris: a crash between writeString and the atomic move
    // in commitUnit leaves .tmp-unit-* files that nothing else removes —
    // readers skip them (correctness holds) but a long-lived table would
    // accumulate one per crashed commit forever
    val md = manifestDir(root)
    if (Files.isDirectory(md))
      listDir(md)(_.filter(_.getFileName.toString.startsWith(".tmp-")).toList)
        .foreach(p => Files.deleteIfExists(p))
  }

  /** Paths of committed unit data dirs (for spark.read.parquet). */
  def committedDataPaths(root: String): Seq[String] =
    committedUnits(root).toSeq.sorted.map(u => dataDir(root).resolve(s"unit=$u").toString)
      .filter(p => hasParquet(Paths.get(p)))

  private def hasParquet(p: Path): Boolean =
    Files.isDirectory(p) && listDir(p)(_.exists(_.toString.endsWith(".parquet")))

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p)(_.toList).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  // minimal hand-rolled JSON (flat, numeric + one string field)
  def renderManifest(m: UnitManifest): String =
    s"""{"unitId":${m.unitId},"runId":"${m.runId}","rows":${m.rows},""" +
      s""""pagesOk":${m.pagesOk},"pagesErr":${m.pagesErr},"bytesIn":${m.bytesIn},""" +
      s""""textChars":${m.textChars},"committedAtEpochMs":${m.committedAtEpochMs}}"""

  def parseManifest(s: String): UnitManifest = {
    def num(k: String): Long = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":(-?\\d+)").matcher(s)
      if (m.find()) m.group(1).toLong else 0L
    }
    def str(k: String): String = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":\"([^\"]*)\"").matcher(s)
      if (m.find()) m.group(1) else ""
    }
    UnitManifest(num("unitId").toInt, str("runId"), num("rows"), num("pagesOk"),
      num("pagesErr"), num("bytesIn"), num("textChars"), num("committedAtEpochMs"))
  }
}
