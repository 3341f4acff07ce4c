package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry
import perfbench.Main.{Metric, Result, median}

/** The near-dup and dedup family of `SparkEntry.queries` over the fixed sf0.1
  * documents and embeddings tables. Each query is materialized through a
  * full-width `bit_xor(xxhash64(struct(*)))` aggregate, as `graft.Bench`
  * does, and its value must equal the one recorded for sf0.1. The seed only
  * picks the query order. */
object Curate {

  /** Query name -> recorded full-width fingerprint at sf0.1: the three
    * banded pair producers of `ops/` `Dedup` and `Similarity` (minhash bands,
    * simhash Manku tables, LSH hyperplanes). */
  val Fingerprints: Map[String, Long] = Map(
    "d05_minhash" -> 5741956306703106967L,
    "d06_simhash" -> 8507047490175525732L,
    "d15_neardup_lsh" -> -1817953818085170346L)

  val Queries: Seq[String] = Fingerprints.keys.toSeq.sorted

  /** `--seconds` buys one timed pass per `PassSeconds`, at least three: a
    * query's first timed run is still on the warm-up curve and varies most
    * from run to run, and the per-query median of three leaves it out. */
  val PassSeconds = 4.0

  /** Queries that read the embeddings table; the rest read documents. */
  private val OnEmbeddings = Set("d15_neardup_lsh")

  /** The seed's query order. The seed is mixed first: java.util.Random's
    * first draws from nearby seeds agree, which would pin the last query. */
  def order(seed: Long): Seq[String] =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong()).shuffle(Queries)

  /** The query's full-width fingerprint (0 for an empty result). */
  def fingerprint(spark: SparkSession, dir: String, q: String): Long = {
    val r = SparkEntry.queries(q)(spark, dir)
      .agg(bit_xor(xxhash64(struct(col("*")))))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** One closed-loop pass over `qs`: per-query wall seconds, and the names of
    * queries that threw or whose fingerprint differs from `expect`. */
  def pass(spark: SparkSession, dir: String, qs: Seq[String],
      expect: Map[String, Long]): (Seq[(String, Double)], Seq[String]) = {
    val bad = Seq.newBuilder[String]
    val walls = qs.map { q =>
      val t0 = System.nanoTime()
      try {
        // jobs carry the query's name for the traced pass's listener
        val fp = TaskStats.labelled(spark.sparkContext, q)(fingerprint(spark, dir, q))
        if (expect.get(q).exists(_ != fp)) {
          System.err.println(s"fingerprint mismatch: $q = $fp, recorded ${expect(q)}")
          bad += q
        }
      } catch {
        case e: Exception =>
          System.err.println(s"query $q failed: $e")
          bad += q
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // the pair sets the queries persisted are released outside the timed window
      SparkEntry.releaseOwnedCaches()
      q -> dt
    }
    (walls, bad.result())
  }

  private final case class Sizes(rows: Long, bytes: Long)

  /** Rows and payload bytes every pass reads: documents text bytes, 4 bytes
    * per embedding dimension. */
  private def sizes(spark: SparkSession, dir: String): Sizes = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .agg(count(lit(1)), sum(octet_length(col("text")).cast("long"))).head()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(count(lit(1)), sum(size(col("embedding")).cast("long"))).head()
    val nEmb = Queries.count(OnEmbeddings)
    val nDoc = Queries.length - nEmb
    Sizes(nDoc * docs.getLong(0) + nEmb * emb.getLong(0),
      nDoc * docs.getLong(1) + nEmb * 4L * emb.getLong(1))
  }

  def run(o: Main.Opts): Result = {
    val dir = s"${o.data}/sf0.1"
    val qs = order(o.seed)
    // warm-up: one untimed pass. Each query keeps getting faster for several
    // runs (the second is 20-40 % slower than the third, the third 15-20 %
    // slower than the fourth), so the timed window starts at the second run
    // and reports per-query medians.
    val (spark, _, setupS) = Main.setUp(3, o.work, _ => ()) { (s, _) =>
      pass(s, dir, qs, Map.empty)
    }
    try {
      val size = sizes(spark, dir) // a warm read, outside every timed window
      var attempted = 0L
      var failed = 0L
      var heapPeak = 0.0
      def passes(n: Int): Seq[Seq[(String, Double)]] =
        (0 until n).map { _ =>
          val (walls, bad) = pass(spark, dir, qs, Fingerprints)
          attempted += walls.length
          failed += bad.length
          heapPeak = math.max(heapPeak, Main.liveHeapMb())
          System.err.println("perfbench: pass " + walls.map { case (q, w) => f"$q=$w%.3f" }.mkString(" "))
          walls
        }
      def perQuery(ps: Seq[Seq[(String, Double)]]): Map[String, Double] =
        ps.flatten.groupBy(_._1).map { case (q, xs) => q -> median(xs.map(_._2)) }

      val metrics =
        if (!o.trace) {
          val curateS = perQuery(passes(math.max(3, math.round(o.seconds / PassSeconds).toInt))).values.sum
          Seq(
            Metric("rows_per_s", size.rows / curateS, "1/s"),
            Metric("input_mb_per_s", size.bytes / 1e6 / curateS, "MB/s"),
            Metric("job_s", curateS, "s"),
            Metric("setup_s", setupS, "s"),
            Metric("heap_peak_mb", heapPeak, "MB"))
        } else {
          val sc = spark.sparkContext
          val stats = new TaskStats
          def once(q: String, traced: Boolean): Double = {
            def run() = pass(spark, dir, Seq(q), Fingerprints)
            val (walls, bad) = if (traced) TaskStats.attached(sc, stats)(run()) else run()
            attempted += 1
            failed += bad.length
            walls.head._2
          }
          // each query runs untraced and traced back to back, in alternating
          // order, so that the trace overhead is not confounded with warm-up
          val runs = qs.zipWithIndex.map { case (q, i) =>
            if (i % 2 == 0) { val u = once(q, traced = false); (q, u, once(q, traced = true)) }
            else { val t = once(q, traced = true); (q, once(q, traced = false), t) }
          }
          val untraced = runs.map(_._2).sum
          val wall = runs.map { case (q, _, t) => q -> t }.toMap
          val ops = Queries.flatMap { q =>
            val t = stats.get(sc, q)
            Seq(
              Metric(s"ops.$q.s", wall(q), "s"),
              Metric(s"ops.$q.stages", t.stages.size.toDouble, "count"),
              Metric(s"ops.$q.shuffle_write_mb", t.shuffleWriteBytes / 1e6, "MB"),
              Metric(s"ops.$q.spill_mb", t.spillBytes / 1e6, "MB"),
              Metric(s"ops.$q.gc_s", t.gcMs / 1e3, "s"))
          }
          ops ++ Crawl.zeroLayers ++ Seq(
            Metric("trace_overhead_frac", wall.values.sum / untraced - 1.0, "ratio"),
            Metric("failed_frac", failed.toDouble / attempted, "ratio"))
        }
      Result(attempted, failed, metrics)
    } finally Main.stop(spark)
  }

  /** Per-query metrics, all zero, for workloads that run no ops query. */
  def zeroOps: Seq[Metric] = Queries.flatMap { q =>
    Seq(Metric(s"ops.$q.s", 0.0, "s"), Metric(s"ops.$q.stages", 0.0, "count"),
      Metric(s"ops.$q.shuffle_write_mb", 0.0, "MB"), Metric(s"ops.$q.spill_mb", 0.0, "MB"),
      Metric(s"ops.$q.gc_s", 0.0, "s"))
  }
}
