package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

package object ops {

  /** The one cache lifecycle of the materializing operators in this
    * package: persist `out` at MEMORY_AND_DISK and run one count() over it,
    * so the returned DataFrame is already computed and its upstream caches
    * (`releasing`: signatures, gram sets, a token pass, a corpus
    * projection) can go. They are unpersisted in a finally — after the
    * count, whether it succeeded or threw — and if the count throws, `out`'s
    * own cache is unpersisted too, so no cache outlives an exception. The
    * caller owns the returned cache and may `unpersist()` it; repeated calls
    * in a long-lived session then never accumulate corpus-sized entries.
    *
    * An operator's `materialize = false` skips this and returns `out`
    * UNEXECUTED — for explain/audit (PlanCheck) or lazy composition only.
    * Where the operator persists an upstream relation regardless (the
    * minhash signatures, the n-gram sets, the LSH corpus projection, so the
    * audited plan shows the InMemoryTableScan), that marker has no owner on
    * the lazy path: executing the plan builds a cache nothing releases.
    * Audit the plan, then call again with materialize = true to compute. */
  private[graft] def materialized(releasing: Dataset[_]*)(out: => DataFrame): DataFrame =
    try {
      val cached = out.persist(StorageLevel.MEMORY_AND_DISK)
      try { cached.count(); cached }
      catch { case t: Throwable => cached.unpersist(false); throw t }
    } finally releasing.foreach(_.unpersist(false))

  /** Candidate pairs inside one LSH bucket, shared by the banded pair
    * producers (minhash bands, simhash Manku tables, hyperplane tables).
    * A bucket holding more than `maxBucket` members yields nothing: the
    * skew guard that keeps one hot bucket from going quadratic, like the
    * reference's cap on detection candidates (db_postprocess.rs:81,
    * max_candidates). The skip is silent — nothing counts it. Otherwise the
    * members are sorted by `id` (stable, so equal ids keep arrival order)
    * and every i < j pair is emitted, smaller id first. At most
    * `maxBucket + 1` members are ever buffered. */
  private[graft] def bucketPairs[T](it: Iterator[T], maxBucket: Int)(
      id: T => Long): Iterator[(T, T)] = {
    val members = it.take(maxBucket + 1).toVector
    if (members.length > maxBucket) Iterator.empty
    else {
      val sorted = members.sortBy(id)
      for {
        i <- sorted.indices.iterator
        j <- (i + 1) until sorted.length
      } yield (sorted(i), sorted(j))
    }
  }
}
