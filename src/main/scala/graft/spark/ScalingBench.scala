package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.Page

/** Two-cluster-size scaling evidence (north rule: throughput scaling
  * efficiency >= 0.8 going from N to 4N executors; sandbox proxy per the
  * driver instruction: the same job unchanged at local[8] vs local[32] on the
  * same input).
  *
  * Protocol: one shared JVM; JIT warmed up once before any measurement so the
  * first-measured parallelism is not penalized; each level measured
  * `iters` times, best (min wall) kept — the steady-state number a cluster
  * would see. Prints one JSON line with pages/s, MB/s and the efficiency
  * quotient (T_n/T_4n)/(4n/n).
  *
  * `runMain graft.spark.ScalingBench [nPages] [iters] [corpusDir]`
  */
object ScalingBench {

  final case class Run(cores: Int, secs: Double, pages: Long, bytes: Long) {
    def pagesPerSec: Double = pages / secs
    def mbPerSec: Double = bytes / 1e6 / secs
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // split sizing so scan tasks >> cores: the default 128 MB packing would
      // fold this corpus into ~7 partitions and cap parallelism at 7 tasks
      // regardless of cores — at 100 TB the same knob keeps task count high
      // relative to the executor fleet
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize the fixture corpus to parquet once so measurement covers the
    * real job shape (scan -> extract -> aggregate), not the generator. */
  def materialize(n: Long, dir: String): Unit = {
    val spark = session(32)
    try {
      import spark.implicits._
      spark.range(0, n, 1, 128).as[Long]
        .mapPartitions(_.map(i => graft.fixtures.FixtureGen.fixture(i).page))
        .write.mode("overwrite").parquet(dir)
    } finally spark.stop()
  }

  /** One full pipeline pass: scan -> extract -> aggregate (the aggregate
    * forces every row through the kernel and keeps nothing in memory). */
  private def pass(spark: SparkSession, dir: String): (Long, Long) = {
    import spark.implicits._
    // explicit schema: skips the footer-inference job a fresh session runs
    val pages = spark.read.schema(implicitly[org.apache.spark.sql.Encoder[Page]].schema)
      .parquet(dir).as[Page]
    val out = ExtractJob.run(pages)
    val row = out.agg(
      count(lit(1)), sum("htmlBytes"),
      sum(when(col("error") =!= "", 1L).otherwise(0L))).collect()(0)
    require(row.getLong(2) == 0L, s"extraction errors: ${row.getLong(2)}")
    (row.getLong(0), row.getLong(1))
  }

  /** One timed pass in a fresh session at `cores`. */
  def timedPass(cores: Int, dir: String): Run = {
    val spark = session(cores)
    try {
      val t0 = System.nanoTime()
      val (p, b) = pass(spark, dir)
      Run(cores, (System.nanoTime() - t0) / 1e9, p, b)
    } finally spark.stop()
  }

  /** Interleaved min-of-iters at each level: the sandbox VM shows bursty
    * host-side contention, so alternating passes and keeping the best of each
    * approximates uncontended steady state. */
  def measureLevels(dir: String, levels: Seq[Int], iters: Int): Map[Int, Run] = {
    val best = scala.collection.mutable.Map.empty[Int, Run]
    for (_ <- 0 until iters; c <- levels) {
      val r = timedPass(c, dir)
      if (!best.contains(c) || r.secs < best(c).secs) best(c) = r
    }
    best.toMap
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.flatMap(_.toLongOption).getOrElse(50000L)
    val iters = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(3)

    // optional fixed corpus dir (arg 3): reused if already materialized
    val dir = args.drop(2).headOption
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-bench-corpus").toString)
    if (!new java.io.File(dir, "_SUCCESS").exists()) materialize(n, dir)

    // global JIT warmup (high parallelism), discarded
    val w = session(32)
    try { pass(w, dir); pass(w, dir) } finally w.stop()

    // two N->4N pairs: 2->8 (away from the shared-box bandwidth wall) and
    // 8->32 (the driver-suggested pair; the single-JVM box saturates ~300MB/s)
    val r = measureLevels(dir, Seq(2, 8, 32), iters)
    def runJson(x: Run): String =
      f""""cores":${x.cores},"secs":${x.secs}%.2f,"pages_per_sec":${x.pagesPerSec}%.0f,"mb_per_sec":${x.mbPerSec}%.1f"""
    def eff(lo: Run, hi: Run): Double = (lo.secs / hi.secs) / (hi.cores.toDouble / lo.cores)
    println(
      // r(8).pages, not the requested n: a pre-existing corpus dir with a
      // _SUCCESS marker is reused as-is, and the record must describe the
      // corpus actually measured
      f"""{"bench":"scaling","n_pages":${r(8).pages},"html_mb":${r(8).bytes / 1e6}%.1f,""" +
      s""""levels":[{${runJson(r(2))}},{${runJson(r(8))}},{${runJson(r(32))}}],""" +
      f""""efficiency_2_to_8":${eff(r(2), r(8))}%.3f,"efficiency_8_to_32":${eff(r(8), r(32))}%.3f}""")
  }
}
