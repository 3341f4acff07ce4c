package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Layered benchmark of the extraction job and the dedup ops.
  *
  * {{{
  * perfbench.Main --workload <web_crawl|curate_dedup> --seed <n>
  *   --seconds <s> --trace <0|1> --work <scratch dir> --data <perfbench/data>
  * perfbench.Main --selftest --work <scratch dir> --data <perfbench/data>
  * }}}
  *
  * Prints one `{"host": ...}` line (steal and GC deltas of the run) and, as
  * the last stdout line, the result object: `correct`, `attempted`, `failed`
  * and `metrics` (end-to-end metrics untraced, per-layer metrics traced).
  */
object Main {

  val Cores = 4
  val Workloads = Seq("web_crawl", "curate_dedup")

  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Double = 10.0,
      trace: Boolean = false, work: String = "", data: String = "", selftest: Boolean = false)

  final case class Metric(name: String, value: Double, unit: String)

  /** One run's outcome. `attempted`/`failed` count rows (crawl) or query
    * executions (curate); every mismatch, error row or exception is a failure. */
  final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric])

  def parse(argv: Array[String]): Opts = {
    var o = Opts()
    var i = 0
    def next(): String = {
      require(i + 1 < argv.length, s"missing value for ${argv(i)}")
      i += 2; argv(i - 1)
    }
    while (i < argv.length) argv(i) match {
      case "--workload" => o = o.copy(workload = next())
      case "--seed" => o = o.copy(seed = next().toLong)
      case "--seconds" => o = o.copy(seconds = next().toDouble)
      case "--trace" => o = o.copy(trace = next() match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      })
      case "--work" => o = o.copy(work = next())
      case "--data" => o = o.copy(data = next())
      case "--selftest" => o = o.copy(selftest = true); i += 1
      case other => throw new IllegalArgumentException(s"unknown argument $other")
    }
    require(o.work.nonEmpty && o.data.nonEmpty, "--work and --data are required")
    if (!o.selftest)
      require(Workloads.contains(o.workload),
        s"unknown workload '${o.workload}'; known: ${Workloads.mkString(", ")}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Files.createDirectories(Paths.get(o.work))
    if (o.selftest) { SelfTest.run(o); return }
    val host0 = Host.sample()
    val res = o.workload match {
      case "web_crawl" => Crawl.run(o)
      case "curate_dedup" => Curate.run(o)
    }
    val host = Host.sample().since(host0)
    println(Json.obj(Seq("host" -> Json.obj(host.asMetrics.map(m => m.name.stripPrefix("host.") -> Json.num(m.value))))))
    val metrics = if (o.trace) res.metrics ++ host.asMetrics else res.metrics
    println(Json.result(res.copy(metrics = metrics)))
  }

  // ---- shared helpers --------------------------------------------------------

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Set-up: `starts` session start/stop cycles (the last session is kept for
    * the timed phase), then `prepare` (input materialization, not timed), then
    * the warm-up and the full collections that every timed pass is also
    * followed by, so that the first timed pass starts from the same heap
    * state as the others. Set-up seconds = the median session start + the
    * warm-up. */
  def setUp[A](starts: Int, work: String, prepare: SparkSession => A)(
      warm: (SparkSession, A) => Unit): (SparkSession, A, Double) = {
    var spark: SparkSession = null
    val startS = (0 until starts).map { _ =>
      if (spark != null) stop(spark)
      val (s, dt) = secondsOf(session(Cores, work))
      spark = s
      dt
    }
    val (a, prepS) = secondsOf(prepare(spark))
    val (_, warmS) = secondsOf { warm(spark, a); liveHeapMb() }
    System.err.println(f"perfbench: session starts ${startS.map(x => f"$x%.2f").mkString(" ")} s, input $prepS%.2f s, warm-up $warmS%.2f s")
    (spark, a, median(startS) + warmS)
  }

  /** Live heap after full collections, in MB (peak tracking for caches).
    * Collects until two readings agree to 0.5 MB (at most eight rounds): each
    * pause lets asynchronous unpersists and Spark's cleaner release what the
    * collection before it exposed, which takes up to three rounds. */
  def liveHeapMb(): Double = {
    def afterGc(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage))
        .map(_.getUsed).sum / 1e6
    }
    var prev = afterGc()
    var cur = afterGc()
    var rounds = 2
    while (math.abs(cur - prev) > 0.5 && rounds < 8) {
      prev = cur
      cur = afterGc()
      rounds += 1
    }
    cur
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally st.close()
  }
}

/** Host conditions around a run: CPU steal from /proc/stat and collector
  * count/time deltas, so an outlier run can be explained. */
final case class Host(stealJiffies: Long, totalJiffies: Long, gcCount: Long, gcMs: Long) {
  def since(h: Host): Host = Host(stealJiffies - h.stealJiffies, totalJiffies - h.totalJiffies,
    gcCount - h.gcCount, gcMs - h.gcMs)
  def stealPct: Double = if (totalJiffies > 0) 100.0 * stealJiffies / totalJiffies else 0.0
  /** The record as metrics named `host.<field>`. */
  def asMetrics: Seq[Main.Metric] = Seq(
    Main.Metric("host.steal_pct", stealPct, "%"),
    Main.Metric("host.gc_count", gcCount.toDouble, "count"),
    Main.Metric("host.gc_s", gcMs / 1e3, "s"))
}

object Host {
  def sample(): Host = {
    val (steal, total) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
        (if (f.length > 7) f(7) else 0L, f.sum)
      } catch { case _: java.io.IOException => (0L, 0L) }
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Host(steal, total, gcs.map(_.getCollectionCount.max(0L)).sum, gcs.map(_.getCollectionTime.max(0L)).sum)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def result(r: Main.Result): String = obj(Seq(
    "correct" -> (r.failed == 0).toString,
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "metrics" -> obj(r.metrics.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))))
}
