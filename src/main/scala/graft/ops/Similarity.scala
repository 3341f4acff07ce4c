package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.VecFunctions.dotF

/** Similarity search over an embedding column (Array[Float]).
  *
  * All dot products run through the native codegen'd graft_dot expression
  * (no UDF), with every element cast to DOUBLE and summed left-to-right in
  * index order — the same fold the DuckDB oracle performs, so scores are
  * bit-comparable (OpsSpec pins it against the higher-order-function fold,
  * `ReferenceForms.dot` in the test tree).
  *
  * Scale paths:
  *   - bruteForceTopK: exact; the query side is tiny and broadcast, the big
  *     side streams — one pass over the corpus, no shuffle of embeddings.
  *   - lshTopK: random-hyperplane signatures bucket the corpus (one narrow
  *     map + one shuffle on short keys); queries probe only their bucket —
  *     the IVF/LSH 100 TB path (recall < 1, measured against brute force in
  *     tests).
  */
object Similarity {

  /** Cosine over float vectors via the native codegen'd graft_dot expression
    * (same double fold, no per-pair zipped-array allocation —
    * graft.functions.FloatVecDot), for the top-k scorers. A zero-norm side
    * gives NaN, and in Spark SQL NaN sorts above every double, so
    * `cosine(a, b) >= t` is TRUE for it: never filter on this column. The
    * threshold filters use [[normedCosine]] or, in the LSH bucket pass,
    * [[cosineAtLeast]], where zero norm means 0.0. */
  def cosine(a: Column, b: Column): Column = {
    // zero-norm guard: under ANSI mode (Spark 4 default) 0/0 THROWS
    // DIVIDE_BY_ZERO and kills the job on one zero embedding; the NaN is
    // skipped by topKPerQuery's heap (Double.compare would otherwise rank
    // NaN first)
    val denom = sqrt(dotF(a, a)) * sqrt(dotF(b, b))
    when(denom === 0.0, lit(Double.NaN)).otherwise(dotF(a, b) / denom)
  }

  /** Cosine of two float vectors over their norms, each computed once per
    * vector beforehand as `sqrt(graft_dot(e, e))`: the same doubles
    * [[cosine]] divides by. A zero (or null) norm product means similarity
    * 0.0, so a zero vector never passes a threshold above 0. */
  private[graft] def normedCosine(a: Column, nrmA: Column, b: Column, nrmB: Column): Column = {
    val prod = nrmA * nrmB
    when(prod > 0.0, dotF(a, b) / prod).otherwise(lit(0.0))
  }

  /** Per-partition bounded-heap top-k per query over (query_id, neighbor_id,
    * sim) rows, then a merge of the tiny per-partition candidate sets.
    *
    * This replaces `row_number() over (partition by query_id)`: the window
    * form shuffles every scored (corpus × query) row into ONE partition per
    * query — for brute force that is the whole corpus in a single task, a
    * straggler/OOM at scale. Here no partition ever emits more than
    * |queries|·k candidate rows, and only those shuffle. Ordering is exact on
    * (sim desc, neighbor_id asc) — bit-identical double compares — so ranks
    * match the window/oracle version row for row. */
  private[ops] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // worse-first ordering for the eviction heap: lower sim is worse; equal
    // sim and higher neighbor_id is worse (the rank tie-break inverted)
    val worseFirst: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
    val partial = scored
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("sim").cast("double"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.PriorityQueue[(Long, Double)]]
        it.foreach { case (qid, nid, sim) =>
          // NaN sim (zero-norm embedding: 0/0 in cosine) is "no similarity",
          // but Double.compare ranks NaN ABOVE every real — unguarded it
          // would evict genuine neighbors and sort to rank 1 for every query
          if (!sim.isNaN) {
            val h = heaps.getOrElseUpdate(qid,
              scala.collection.mutable.PriorityQueue.empty[(Long, Double)](worseFirst))
            if (h.size < k) h.enqueue((nid, sim))
            else if (worseFirst.compare((nid, sim), h.head) < 0) {
              h.dequeue(); h.enqueue((nid, sim))
            }
          }
        }
        heaps.iterator.flatMap { case (qid, h) => h.iterator.map(c => (qid, c._1, c._2)) }
      }
    partial
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double)]) =>
        // ascending by worseFirst = best candidates first
        val best = it.map(c => (c._2, c._3)).toArray.sorted(worseFirst).take(k)
        best.iterator.zipWithIndex.map { case ((nid, _), i) => (qid, nid, i + 1) }
      }
      .toDF("query_id", "neighbor_id", "rank")
  }

  /** Exact top-k cosine neighbors for the query rows (vec_id in queryIds).
    * Query side broadcast; corpus side never shuffled; top-k via bounded
    * per-partition heaps (only |queries|·k rows per partition ever shuffle). */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
    topKPerQuery(scored, k)
  }

  /** Deterministic pseudo-gaussian hyperplanes (sum of 4 xorshift draws),
    * shared by the broadcast signature path and its literal-expression
    * reference form (`ReferenceForms.signatureExpr`, test tree). */
  private[graft] def planesFor(dim: Int, bits: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (b, d) =>
      var x = seed + b * 1341L + d * 7919L + 1
      var s = 0.0
      var k = 0
      while (k < 4) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        s += (x.toDouble / Long.MaxValue)
        k += 1
      }
      s / 2.0
    }

  /** (vec_id, embedding) -> (vec_id, embedding, buckets ARRAY<LONG>) with one
    * random-hyperplane signature per seed, computed in a typed narrow map
    * over a broadcast plane matrix — constant plan size at any dim/bits.
    * A Catalyst-literal form would inline `bits * dim` plane coefficients
    * per table: at production dims (768+) x 24 bits that is plan bloat and
    * codegen fallback (64KB method limit). The literal form stays in the
    * test tree as `ReferenceForms.signatureExpr`, and OpsSpec asserts the two
    * are bit-identical at dim 16 and dim 768 (same double multiply-add in
    * index order) — INCLUDING ragged rows: a null or wrong-length embedding
    * null-poisons the expression's zip_with projection, so every bit is 0
    * there; this path emits signature 0 for exactly those rows instead of
    * folding the available dims. */
  def withSignatures(emb: DataFrame, dim: Int, bits: Int, seeds: Seq[Long]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seeds.map(s => planesFor(dim, bits, s)).toArray)
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val tables = bc.value
        it.map { case (id, e) =>
          val sigs = new Array[Long](tables.length)
          // ragged guard: sigs stay 0, matching the literal form's null semantics
          if (e != null && e.length == dim) {
            var t = 0
            while (t < tables.length) {
              val tbl = tables(t)
              var sig = 0L
              var b = 0
              while (b < tbl.length) {
                val plane = tbl(b)
                var s = 0.0
                var d = 0
                while (d < dim) { s += e(d).toDouble * plane(d); d += 1 }
                if (s > 0) sig |= 1L << b
                b += 1
              }
              sigs(t) = sig
              t += 1
            }
          }
          (id, e, sigs)
        }
      }
      .toDF("vec_id", "embedding", "buckets")
  }

  /** Signature width scaled to the corpus: bits ≈ log2(n / targetBucket),
    * clamped to [4, 24] — expected bucket occupancy stays ~targetBucket as
    * the corpus grows, so probe cost is flat from sf0.001 to 10^12 rows
    * instead of buckets going quadratic at a fixed width. `n` comes from
    * `count()` on the source, which parquet answers from footer metadata. */
  def autoBits(n: Long, targetBucket: Int = 64): Int = {
    val raw = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.max(4, math.min(24, raw))
  }

  /** Multi-probe LSH approximate top-k: each query probes its own bucket plus
    * every bucket at Hamming distance 1 (bit flips) — the standard recall
    * boost that costs `bits` extra broadcast rows per query instead of a
    * second hash table (Lv et al., VLDB'07). The corpus side stays bucketed
    * once and is never shuffled; only the tiny query set explodes.
    * `bits <= 0` (the default) derives the signature width from the corpus
    * count via [[autoBits]]. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], dim: Int,
      k: Int = 10, bits: Int = 0, seed: Long = 42L): DataFrame = {
    val nBits = if (bits > 0) bits else autoBits(emb.count())
    // broadcast-plane signatures: constant plan size at any dim (see
    // withSignatures; bit-identical to the literal-expression form).
    // The query side signs its OWN tiny isin-filtered scan: signatures are
    // row-local, and filtering bucketed instead would sit the isin above a
    // typed mapPartitions — no pushdown, so the full-corpus signature pass
    // would run twice (once to keep a handful of query rows, once for the
    // corpus join side).
    val bucketed = withSignatures(emb, dim, nBits, Seq(seed))
      .select(col("vec_id"), col("embedding"), col("buckets").getItem(0).as("bucket"))
    val flips = array((0 until nBits).map(b => lit(1L << b)) :+ lit(0L): _*)
    val q = withSignatures(emb.filter(col("vec_id").isin(queryIds: _*)),
        dim, nBits, Seq(seed))
      .select(col("vec_id"), col("embedding"), col("buckets").getItem(0).as("bucket"))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(transform(flips, f => col("bucket").bitwiseXOR(f))).as("bucket"))
    val scored = bucketed
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
    topKPerQuery(scored, k)
  }

  /** Nearest-centroid assignment kernel shared by the IVF k-means trainer,
    * the corpus-assignment map, and [[ivfAssignWitness]]: argmin of squared
    * L2 over the first `dim` entries, accumulated in index order in double,
    * lowest index winning exact ties. Factored out so the oracle witness
    * exercises the same code the production path runs. */
  private[graft] def nearestCell(v: Array[Float], cs: Array[Array[Double]],
      dim: Int): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < dim) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF-assignment oracle witness: assign every well-formed vector to its
    * nearest of the GIVEN literal centroids via the production
    * [[nearestCell]] kernel → (vec_id, cell). Pins the assignment semantics
    * the trained-k-means path (d13) cannot expose to SQL — argmin squared-L2
    * with index-order double accumulation and lowest-index tie-break — in a
    * DuckDB oracle whose SQL embeds the same centroid literals. Ragged rows
    * (null or shorter than the centroid dim) are excluded exactly as
    * [[ivfTopK]] excludes them ("never a candidate"). Narrow map over a
    * broadcast centroid matrix: no shuffle, scan-speed at any corpus size. */
  def ivfAssignWitness(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val dim = centroids(0).length
    require(centroids.forall(_.length == dim), "ragged centroid matrix")
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .filter(r => r._2 != null && r._2.length >= dim)
      .map { case (id, v) => (id, nearestCell(v, bc.value, dim)) }
      .toDF("vec_id", "cell")
  }

  /** IVF (inverted-file) approximate top-k: a coarse k-means quantizer over a
    * driver-side sample partitions the corpus into cells; queries probe the
    * `nProbe` nearest centroids and score only those cells (Jégou et al.,
    * PAMI'11). One narrow assignment map over the corpus, broadcast
    * centroids + queries, no corpus shuffle — the second standard scale path
    * next to multi-probe LSH. */
  /** Coarse k-means quantizer (10 iters, seeded init) on a deterministic
    * corpus sample — small and driver-side by design, like any IVF training
    * step. Ordering by a seeded hash of vec_id makes the sample (a)
    * identical at any parallelism level — same-job-same-result across N and
    * 4N executors — and (b) spread across the id space; orderBy+limit
    * compiles to TakeOrdered (per-partition top-k + driver merge, no sort
    * shuffle of the corpus). Ragged sample rows are dropped so the k-means
    * inner loops index safely. Shared by [[ivfTopK]] and the trained-
    * centroid [[semDedup]] path. */
  def trainCentroids(emb: DataFrame, nCells: Int = 16, sampleN: Int = 4096,
      seed: Long = 42L): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample0 = emb
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(sampleN)
      .select(col("embedding")).as[Array[Float]].collect()
    require(sample0.nonEmpty, "empty corpus")
    val dim = sample0(0).length
    val sample = sample0.filter(_.length == dim)
    val rnd = new java.util.Random(seed)
    var centroids = Array.tabulate(math.min(nCells, sample.length))(i =>
      sample(rnd.nextInt(sample.length)).map(_.toDouble))
    for (_ <- 0 until 10) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      for (v <- sample) {
        val c = nearestCell(v, centroids, dim)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4, sampleN: Int = 4096,
      seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // ragged rows (null / shorter-than-dim embeddings — the exact shapes
    // withSignatures tolerates with sig 0) would NPE/AIOOBE inside nearest()
    // and kill the job: exclude them from both the index and the queries,
    // matching the LSH path's "never a candidate" semantics
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .filter(r => r._2 != null)
    val centroids = trainCentroids(emb, nCells, sampleN, seed)
    val dim = centroids(0).length
    val bcCentroids = spark.sparkContext.broadcast(centroids)
    // assign corpus rows to cells (narrow map; no shuffle); ragged short
    // rows are excluded the same way the LSH path never candidates them
    val assigned = vecs.filter(_._2.length >= dim)
      .map { case (id, v) => (nearestCell(v, bcCentroids.value, dim), id, v) }
      .toDF("cell", "neighbor_id", "n_emb")
    // queries probe their nProbe nearest cells
    // Set membership, not Seq.contains — a Seq would linear-scan per corpus row
    val qSet = queryIds.toSet
    val queries = vecs.filter(r => qSet.contains(r._1) && r._2.length >= dim).collect()
    val probes = queries.flatMap { case (qid, qv) =>
      val byDist = centroids.indices.sortBy { c =>
        var d = 0.0; var i = 0
        while (i < dim) { val t = qv(i) - centroids(c)(i); d += t * t; i += 1 }
        d
      }
      byDist.take(nProbe).map(c => (c, qid, qv))
    }
    val qDF = spark.createDataset(probes.toSeq).toDF("cell", "query_id", "q_emb")
    val scored = assigned.join(broadcast(qDF), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("n_emb")))
    topKPerQuery(scored, k)
  }

  /** Near-duplicate pairs via LSH-prefilter + exact verify — the 10^12-row
    * path: the blocked product below is exact but O(n²) work however it is
    * partitioned; this variant generates candidates only from rows sharing a
    * random-hyperplane signature bucket (narrow map + ONE shuffle on the
    * short bucket key, hot buckets capped like minhash), then verifies each
    * candidate with the exact cosine. Recall < 1 by construction (LSH misses
    * some borderline pairs) — measured against the exact product in OpsSpec.
    * `bits <= 0` (the default) scales the signature width with the corpus
    * count ([[autoBits]]) so bucket occupancy stays bounded as the corpus
    * grows. The (vec_id, embedding) projection is [[spread]] over the cores.
    * Each banded row carries its vector through the bucket exchange, and the
    * bucket pass of [[bandedPairs]] verifies every candidate there
    * ([[cosineAtLeast]], one norm per buffered member, a zero vector has
    * similarity 0.0): no candidate set is deduplicated or joined back to
    * the corpus, and only the verified pairs reach the final `distinct`.
    * Lazy by design, like `Dedup.minhashPairs` and `Dedup.simhashPairs`:
    * nothing is persisted, and the only job it runs is [[autoBits]]'
    * `count()` when `bits <= 0`. */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double, dim: Int,
      bits: Int = 0, nTables: Int = 6, seed: Long = 42L,
      maxBucket: Int = 1024): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val nBits = if (bits > 0) bits else autoBits(emb.count())
    // OR-construction: nTables independent hyperplane tables; a pair is a
    // candidate if it shares a bucket in ANY table (recall 1-(1-p^bits)^T).
    // The explode keys on (table, bucket) so all tables ride one shuffle.
    val vecs = spread(emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding")), "vec_id")
    // one broadcast-plane pass computes ALL table signatures (constant plan
    // size at any dim — a literal-expression form would inline
    // nTables x bits x dim coefficients here)
    val banded = withSignatures(vecs, dim, nBits, (0 until nTables).map(t => seed + t * 1000003L))
      .select(col("vec_id"), col("embedding"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      .select(col("tbl"), col("bucket"), col("vec_id"), col("embedding"))
    bandedPairs(banded, maxBucket)(Normed(_)) { (a, b) =>
      if (cosineAtLeast(a, b, threshold)) Some((a.id, b.id)) else None
    }
      .toDF("id_a", "id_b")
      .distinct()
  }

  /** One member of a hyperplane bucket in the LSH verify: its id, its
    * vector (null for a null embedding) and the vector's norm. */
  private[graft] final case class Normed(id: Long, e: Array[Float], nrm: Double)

  private[graft] object Normed {
    /** The norm is `sqrt(graft_dot(e, e))`, the same double. */
    def of(id: Long, e: Array[Float]): Normed =
      Normed(id, e, if (e == null) 0.0 else math.sqrt(dot(e, e)))

    /** From a (tbl, bucket, vec_id, embedding) row. */
    def apply(r: org.apache.spark.sql.Row): Normed = {
      val s = r.getSeq[Float](3)
      of(r.getLong(2), if (s == null) null else s.toArray)
    }
  }

  /** graft_dot's fold over two vectors of one length: each element widened
    * to double, summed in index order. */
  private def dot(x: Array[Float], y: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  /** `normedCosine(a, b) >= t` as the SQL filter evaluates it, for the
    * bucket pass: a null or zero norm product means similarity 0.0, vectors
    * of different lengths have a null graft_dot (never kept), and doubles
    * compare in Spark SQL's order (NaN above every double). */
  private[graft] def cosineAtLeast(a: Normed, b: Normed, t: Double): Boolean = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val prod = a.nrm * b.nrm
    if (a.e == null || b.e == null || compareDoubles(prod, 0.0) <= 0) compareDoubles(0.0, t) >= 0
    else a.e.length == b.e.length && compareDoubles(dot(a.e, b.e) / prod, t) >= 0
  }

  /** Exact near-duplicate pairs by embedding cosine >= threshold, upper
    * triangle only.
    *
    * Executed as a blocked broadcast JOIN: the corpus is split into
    * deterministic hash blocks of <= maxBroadcast vectors and each block is
    * the broadcast side of one BroadcastNestedLoopJoin branch, with the
    * score — graft_dot(a,b)/(norm_a*norm_b), the oracle's exact fold —
    * evaluated inside the codegen'd join condition. Nothing is ever
    * collected to the driver: broadcast relations materialize on executors
    * at execution time, so memory is bounded by the block size plus the
    * scan. Each unordered pair is emitted exactly once (by the block
    * holding the larger id, upper triangle), so the union over blocks is
    * duplicate-free. For 1e9+ corpora prefer nearDupPairsLsh — any exact
    * all-pairs method is O(n²) work however it is partitioned.
    *
    * Block sizes are `maxBroadcast` IN EXPECTATION (hash-assigned): at the
    * default 2^20 the relative deviation concentrates within ~±0.5%
    * (Chernoff), so the broadcast budget holds without the global sort a
    * row_number-exact split would cost. Zero-norm vectors have DEFINED
    * similarity 0.0 (never NaN). The (vec_id, embedding, nrm) projection is
    * persisted so the B union branches scan the corpus once; the pair set
    * is materialized with that cache released — see [[materialized]]. */
  def nearDupPairs(emb: DataFrame, threshold: Double,
      maxBroadcast: Int = 1 << 20): DataFrame = {
    val (union, nd) = nearDupPairsPlan(emb, threshold, maxBroadcast)
    materialized(nd)(union)
  }

  /** The unmaterialized (pairUnion, cachedProjection) pair behind
    * nearDupPairs — exposed so plan audits can assert the branch shape
    * (BroadcastNestedLoopJoin over InMemoryTableScan) before execution. */
  private[graft] def nearDupPairsPlan(emb: DataFrame, threshold: Double,
      maxBroadcast: Int): (DataFrame, DataFrame) = {
    // norms precomputed once per side; the join condition then costs ONE dot
    // per pair (the HOF formulation recomputed two norms per pair, 40x cost)
    val nd = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"), sqrt(dotF(col("embedding"), col("embedding"))).as("nrm"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // parquet sources answer count() from footer metadata — no compute pass
    val total = emb.count()
    val nBlocks = math.max(1L, (total + maxBroadcast - 1) / maxBroadcast).toInt
    val blockOf = pmod(xxhash64(col("vec_id")), lit(nBlocks.toLong))
    val a = nd.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    // guarded cosine: zero-norm product → sim 0.0, not NaN (in Spark SQL
    // NaN >= t is TRUE for every t, so a NaN sim would pair a zero vector
    // with every vector)
    val sim = normedCosine(col("emb_a"), col("nrm_a"), col("emb_b"), col("nrm_b"))
    val parts = (0 until nBlocks).map { b =>
      val block = (if (nBlocks == 1) nd else nd.filter(blockOf === b.toLong))
        .select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
          col("nrm").as("nrm_b"))
      a.join(broadcast(block), col("id_b") > col("id_a") && sim >= threshold)
        .select(col("id_a"), col("id_b"))
    }
    (parts.reduce(_ union _), nd)
  }

  /** Production [[semDedup]]: centroids trained by the shared IVF k-means
    * ([[trainCentroids]] — deterministic sample, same result at any
    * parallelism; the one Spark job this overload runs at build time).
    * `nCells` should grow with the corpus so cells stay bounded (the
    * paper's k ∝ corpus size); the explicit-centroid overload is the
    * oracle-able form (d41). */
  def semDedup(emb: DataFrame, nCells: Int, threshold: Double,
      maxCell: Int, sampleN: Int, seed: Long): DataFrame =
    semDedup(emb, trainCentroids(emb, nCells, sampleN, seed), threshold,
      maxCell)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * by clustering the embedding space and keeping exactly one example from
    * each group of semantically near-identical examples within a cluster.
    *
    * The key structural fact — SemDeDup compares only WITHIN a cluster, so
    * duplicate groups can never span cells — makes the whole graph stage
    * local: the plan is one narrow assignment map over BROADCAST centroids
    * (the production [[nearestCell]] kernel d13/d37 run, computing each
    * row's cosine to its own centroid in the same pass), then ONE shuffle
    * keyed on the short cell id into a per-cell task that computes the
    * ε-graph (cosine ≥ `threshold`), its connected components (union-find),
    * and the keep rule in memory. No self-join, no iterative label
    * propagation, no driver-side state, and the quadratic term is bounded
    * per cell: a task holds at most `maxCell` vectors (size maxCell with
    * the embedding dim in mind — 2^16 × 768-dim floats ≈ 200 MB). Cells
    * larger than `maxCell` stream through UNDEDUPED with `capped` = 1
    * rather than silently exploding — at production scale SemDeDup grows
    * the centroid count with the corpus precisely so cells stay bounded,
    * and the cap makes that contract loud. Ragged rows (null / shorter
    * than the centroid dim) are excluded exactly as [[ivfTopK]] excludes
    * them.
    *
    * Keep rule — per duplicate group, keep the example with the LOWEST
    * cosine to its cluster centroid (the paper's choice: the least
    * prototypical member preserves the most diversity), smallest vec_id on
    * exact double ties; singletons keep. Component label = the group's
    * minimum vec_id.
    *
    * All similarity arithmetic is the oracle fold — index-order double
    * accumulation over the first `dim` entries, zero-norm rows having
    * DEFINED similarity 0.0 — so a DuckDB oracle given the same centroid
    * literals reproduces every (cell, component, keep) decision bit-exactly
    * (d41). Returns the LAZY (vec_id, cell, component, keep, capped) plan:
    * no internal caches, no jobs at build time. */
  def semDedup(emb: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, maxCell: Int = 1 << 16): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val dim = centroids(0).length
    require(centroids.forall(_.length == dim), "ragged centroid matrix")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    require(maxCell >= 1, s"maxCell must be >= 1, got $maxCell")
    val spark = emb.sparkSession
    import spark.implicits._
    // centroid norms are driver-side constants, computed with the same
    // index-order fold the oracle embeds as literals
    val cNorms = centroids.map { c =>
      var s = 0.0; var i = 0
      while (i < dim) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    val bcC = spark.sparkContext.broadcast(centroids)
    val bcN = spark.sparkContext.broadcast(cNorms)
    val assigned = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .filter(r => r._2 != null && r._2.length >= dim)
      .map { case (id, v) =>
        val cell = nearestCell(v, bcC.value, dim)
        var dc = 0.0; var nv = 0.0; var i = 0
        while (i < dim) {
          val x = v(i).toDouble
          dc += x * bcC.value(cell)(i); nv += x * x; i += 1
        }
        val nrm = math.sqrt(nv)
        val den = nrm * bcN.value(cell)
        val csim = if (den > 0.0) dc / den else 0.0
        (cell, id, csim, nrm, v.take(dim))
      }
    assigned.groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        // buffer at most maxCell + 1 members to detect the cap; an oversized
        // cell streams through (buffered head + lazy tail), never
        // materializing in task memory
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, Double, Array[Float])]
        var over = false
        while (!over && it.hasNext) {
          val r = it.next()
          buf += ((r._2, r._3, r._4, r._5))
          if (buf.length > maxCell) over = true
        }
        if (over)
          buf.iterator.map(m => (m._1, cell, m._1, 1, 1)) ++
            it.map(r => (r._2, cell, r._2, 1, 1))
        else {
          // deterministic local order (shuffle order is not): sort by id;
          // union-find parents always point to the SMALLER index, so each
          // component's root index carries its minimum vec_id
          val ms = buf.sortBy(_._1).toArray
          val n = ms.length
          val parent = Array.tabulate(n)(identity)
          def find(x: Int): Int = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          var i = 0
          while (i < n) {
            var j = i + 1
            while (j < n) {
              // the oracle fold: index-order double dot over the dim slice,
              // zero-norm products => DEFINED similarity 0.0 (no edge)
              val prod = ms(i)._3 * ms(j)._3
              if (prod > 0.0) {
                val va = ms(i)._4; val vb = ms(j)._4
                var d = 0.0; var k = 0
                while (k < dim) { d += va(k).toDouble * vb(k).toDouble; k += 1 }
                if (d / prod >= threshold) {
                  val ri = find(i); val rj = find(j)
                  if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
                }
              }
              j += 1
            }
            i += 1
          }
          // keep = argmin (csim, vec_id) per component: ids ascend with the
          // index, so a strict < scan lands ties on the smallest vec_id
          val bestIdx = new java.util.HashMap[Int, Int]()
          i = 0
          while (i < n) {
            val r = find(i)
            val b = bestIdx.getOrDefault(r, -1)
            if (b < 0 || ms(i)._2 < ms(b)._2) bestIdx.put(r, i)
            i += 1
          }
          (0 until n).iterator.map { idx =>
            val r = find(idx)
            (ms(idx)._1, cell, ms(r)._1,
              if (bestIdx.get(r) == idx) 1 else 0, 0)
          }
        }
      }
      .toDF("vec_id", "cell", "component", "keep", "capped")
  }
}
