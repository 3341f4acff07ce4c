package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

package object ops {

  /** The one cache lifecycle of the materializing operators in this
    * package: persist `out` at MEMORY_AND_DISK and run one count() over it,
    * so the returned DataFrame is already computed and its upstream caches
    * (`releasing`: gram sets, a token pass, a corpus projection) can go.
    * They are unpersisted in a finally — after the
    * count, whether it succeeded or threw — and if the count throws, `out`'s
    * own cache is unpersisted too, so no cache outlives an exception. The
    * caller owns the returned cache and may `unpersist()` it; repeated calls
    * in a long-lived session then never accumulate corpus-sized entries.
    *
    * An operator's `materialize = false` skips this and returns `out`
    * UNEXECUTED — for explain/audit (PlanCheck) or lazy composition only.
    * Where the operator persists an upstream relation regardless (the
    * n-gram sets of `Dedup.ngramJaccardPairs`, so the audited plan shows the
    * InMemoryTableScan), that marker has no owner on
    * the lazy path: executing the plan builds a cache nothing releases.
    * Audit the plan, then call again with materialize = true to compute. */
  private[graft] def materialized(releasing: Dataset[_]*)(out: => DataFrame): DataFrame =
    try {
      val cached = out.persist(StorageLevel.MEMORY_AND_DISK)
      try { cached.count(); cached }
      catch { case t: Throwable => cached.unpersist(false); throw t }
    } finally releasing.foreach(_.unpersist(false))

  /** `df`, an `(id, payload)` projection, hash-partitioned on `id` over
    * `defaultParallelism` partitions. A table stored as one small parquet
    * file is one input split, so a per-row signature pass straight over it
    * runs as one task on one core; after the spread it runs one task per
    * core. */
  private[graft] def spread(df: DataFrame, id: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(id))

  /** Candidate pairs of a banded relation: the one pair generator of the
    * banded near-dup producers (minhash bands, simhash Manku tables,
    * hyperplane tables). `banded` holds one row per bucket member. Its first
    * two columns are the bucket key (band or table: int, bucket: bigint),
    * its third the member id (bigint); any further columns are a payload.
    * `member` reads each buffered row once into what `pair` needs; `pair`
    * turns each in-bucket candidate (smaller id first) into an output row,
    * or drops it with None.
    *
    * The bucket exchange is an explicit `repartition` to
    * `spark.sql.shuffle.partitions` on the key. AQE never coalesces such a
    * REPARTITION_BY_NUM exchange; the few-MB exchange of a `groupByKey` it
    * folds into one partition, and the whole enumeration then runs as one
    * task. Each partition is sorted by (key, id), and one pass over the
    * runs of equal key ([[bucketRuns]]) yields every i < j pair of a run in
    * ascending id order, smaller id first. */
  private[graft] def bandedPairs[M, U: Encoder](banded: DataFrame, maxBucket: Int)(
      member: Row => M)(pair: (M, M) => Option[U]): Dataset[U] = {
    val Array(band, bucket, id) = banded.columns.take(3).map(col)
    banded
      .repartition(banded.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, band, bucket)
      .sortWithinPartitions(band, bucket, id)
      .mapPartitions { rows =>
        for {
          run <- bucketRuns(rows, maxBucket).map(_.map(member))
          i <- run.indices.iterator
          j <- (i + 1) until run.length
          out <- pair(run(i), run(j))
        } yield out
      }
  }

  /** The runs of equal bucket key in rows sorted by it, in arrival (so id)
    * order. A run of more than `maxBucket` members is dropped: the skew
    * guard that keeps one hot bucket from going quadratic, like the
    * reference's cap on detection candidates (db_postprocess.rs:81,
    * max_candidates). The skip is silent — nothing counts it. At most
    * `maxBucket` members of a run are buffered; the rest of a hot run is
    * read past. */
  private def bucketRuns(sorted: Iterator[Row], maxBucket: Int): Iterator[Vector[Row]] =
    new Iterator[Vector[Row]] {
      private val rows = sorted.buffered
      def hasNext: Boolean = rows.hasNext
      def next(): Vector[Row] = {
        val band = rows.head.getInt(0)
        val bucket = rows.head.getLong(1)
        val run = Vector.newBuilder[Row]
        var n = 0
        while (rows.hasNext && rows.head.getInt(0) == band && rows.head.getLong(1) == bucket) {
          val r = rows.next()
          if (n < maxBucket) run += r
          n += 1
        }
        if (n > maxBucket) Vector.empty else run.result()
      }
    }
}
