package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-curation sampling operators: per-domain quotas (cap hot hosts —
  * the CCNet/RefinedWeb-style "at most K documents per domain" gate) and
  * deterministic content-hash splits (stable train/held-out selection that
  * survives reruns and repartitioning). Both avoid the naive corpus-wide
  * `row_number() over (partition by key)` formulation, which at 10^12 rows
  * funnels every row of a hot key through one reducer.
  */
object Sampling {

  /** Keep the K smallest `idCol` rows per `keyCol` (deterministic per-domain
    * quota). Two-phase exact top-k:
    *
    *   1. narrow mapPartitions: per-partition bounded max-heaps keep the K
    *      smallest ids per key, emitting ≤ K candidates per (key, partition)
    *      — the same partial top-k shape as Similarity.bruteForceTopK;
    *   2. groupBy(key) over candidates only (≤ K·partitions ids per key, a
    *      bounded set of longs — never the key's full row set) computes the
    *      exact kth-smallest threshold;
    *   3. the one-row-per-key threshold table joins back (auto-broadcast
    *      when small) and `id <= kth` filters the corpus — exact because
    *      ids are unique within a key.
    */
  def sourceQuota(df: DataFrame, k: Int, keyCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"quota k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // null keys fold into one "" domain (they must still be quota'd, and a
    // null===null join predicate would otherwise drop them silently); ids
    // are assumed unique within a key (doc ids / url hashes), else "K
    // smallest" is ill-defined
    val pairs = df
      .select(coalesce(col(keyCol).cast("string"), lit("")).as("key"),
        col(idCol).cast("long").as("id"))
      .as[(String, Long)]
    val cands = pairs.mapPartitions { it =>
      // max-heap per key of the K smallest ids seen in this partition
      val heaps = scala.collection.mutable.HashMap
        .empty[String, java.util.PriorityQueue[java.lang.Long]]
      it.foreach { case (key, id) =>
        val h = heaps.getOrElseUpdate(key,
          new java.util.PriorityQueue[java.lang.Long](k + 1,
            java.util.Comparator.reverseOrder[java.lang.Long]()))
        if (h.size < k) h.add(id)
        else if (h.peek() > id) { h.poll(); h.add(id) }
      }
      heaps.iterator.flatMap { case (key, h) =>
        import scala.jdk.CollectionConverters._
        h.iterator().asScala.map(id => (key, id.longValue()))
      }
    }.toDF("__gq_key", "__gq_id") // prefixed: must not collide with df's columns
    val kth = cands.groupBy(col("__gq_key")).agg(
      element_at(slice(sort_array(collect_list(col("__gq_id"))), 1, k), -1)
        .as("__gq_kth"))
    df.join(kth,
        coalesce(col(keyCol).cast("string"), lit("")) === col("__gq_key"))
      .filter(col(idCol).cast("long") <= col("__gq_kth"))
      .drop("__gq_key", "__gq_kth")
  }

  /** Deterministic hash split: keep a row iff the first hex nibble of
    * md5(id as string) falls below `keepNibbles` (of 16) — e.g. 8 keeps an
    * expected 50%. Content-keyed, so the selection is stable across reruns,
    * partitionings, and engines (md5 is the same everywhere — the d02
    * content_md5 precedent), unlike `rand()`-based sampling. Narrow, no
    * shuffle. */
  def hashSample(df: DataFrame, keepNibbles: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(keepNibbles >= 0 && keepNibbles <= 16,
      s"keepNibbles must be in [0,16], got $keepNibbles")
    val nibble = substring(
      TextOps.md5Key(col(idCol).cast("string")), 1, 1)
    val bound = "0123456789abcdefg".charAt(keepNibbles).toString
    df.filter(nibble < lit(bound))
  }

  /** Deterministic stratified (mixture) sampling: per-group keep-rates over
    * the same stable content hash as [[hashSample]] — the source/language
    * REWEIGHTING step of corpus mixing (down-weight an over-represented
    * source or language to a target distribution, Pile/Dolma-style). A row
    * in group g survives iff the first FOUR hex nibbles of md5(id as
    * string) fall below floor(rate_g × 65536), giving 1/65536-granular
    * rates with hashSample's rerun/engine/partitioning stability — and
    * because every group thresholds the SAME hash, kept sets NEST as rates
    * grow (the 25% sample is a subset of the 50% sample), so retuning a
    * mixture only adds or removes documents, never churns them.
    *
    * Groups absent from `rates` (and null groups) keep `defaultRate`. The
    * rate table is mixture-weights-sized (tens of entries), so it compiles
    * into a when-chain: pure narrow filter, zero exchange, whole-stage
    * codegen — at 10^12 rows this is a scan-speed pass. */
  def stratifiedSample(df: DataFrame, rates: Map[String, Double],
      groupCol: String = "lang", idCol: String = "doc_id",
      defaultRate: Double = 1.0): DataFrame = {
    def hex4(rate: Double): String = {
      require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
      val t = math.floor(rate * 65536).toLong
      if (t >= 65536) "g" else f"$t%04x" // 'g' > every hex char: keep all
    }
    val nib4 = substring(
      TextOps.md5Key(col(idCol).cast("string")), 1, 4)
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(lit(hex4(defaultRate))) {
      case (acc, (g, r)) =>
        when(col(groupCol).cast("string") === lit(g), lit(hex4(r)))
          .otherwise(acc)
    }
    df.filter(nib4 < threshold)
  }

  /** Per-(doc, bucket) token counts — the hashed-unigram feature relation
    * shared by [[dsirWeights]] and [[unigramNll]]: corpus-convention ascii
    * tokens, bucket = first-8-hex-digits of md5(token) mod `buckets`. One
    * shuffle with map-side combine; ≤ `buckets` rows per doc. */
  private def bucketCounts(df: DataFrame, textCol: String, idCol: String,
      buckets: Int): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(TextOps.asciiTokens(col(textCol))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(TextOps.md5Key(col("tok")), 1, 8), 16, 10)
          .cast("long") % buckets).as("bkt"))
      .groupBy(col("doc_id"), col("bkt"))
      .agg(count(lit(1)).as("c"))

  /** One row per source doc: left-join the per-doc scores back onto the full
    * id set, coalescing each score column to 0 (token-free docs score 0 — an
    * empty sum). Shared tail of [[dsirWeights]] and [[unigramNll]]. */
  private def allDocsLeft(source: DataFrame, perDoc: DataFrame, idCol: String,
      scoreCols: Seq[String]): DataFrame =
    source.select(col(idCol).cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        scoreCols.map(c => coalesce(col(c), lit(0L)).as(c)): _*)

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", NeurIPS): score every `raw`
    * document by how target-like its hashed-unigram bag is — the
    * log-likelihood ratio of the document's tokens under two smoothed
    * unigram models over `buckets` hashed feature buckets, one estimated
    * from `target` (the small quality corpus) and one from `raw` (the crawl
    * being selected from). Selecting the top-weight documents (or Gumbel
    * resampling on the weights) is then one orderBy/filter away.
    *
    * Exact fixed-point semantics (so the DuckDB oracle can pin it):
    * tokens are the lower-cased `[A-Za-z0-9]+` runs ([[TextOps.asciiTokens]],
    * the corpus-wide token convention), bucket = first-8-hex-digits of
    * md5(token) mod `buckets`, and each bucket's log-ratio
    * `ln((ct+1)/(T+B)) - ln((cr+1)/(R+B))` (Laplace-smoothed, natural log)
    * is rounded ONCE to integer micro-units; a document's
    * `weight_micros` is the exact bigint sum of its per-token bucket
    * micros, so the per-doc aggregation is order-independent. Cross-engine
    * caveat, stated honestly: IEEE 754 does not require `ln` to be
    * correctly rounded, so the contract additionally assumes both engines'
    * libm agree at the single rounding point — a 1-ulp `ln` divergence
    * landing within ~1e-16 of an exact .5 micro boundary could flip one
    * bucket's micros by 1 (probability ~1e-10 per bucket; LOUD — the oracle
    * reports a hash mismatch — never a silent wrong answer; empirically
    * absent on the oracled corpora and the seeded equivalence sweep).
    *
    * Scale shape: the corpus is tokenized ONCE into per-(doc, bucket)
    * counts (one shuffle with map-side combine; ≤ `buckets` distinct rows
    * per doc); both model estimates reduce over that relation (bucket
    * cardinality = `buckets`, so those aggregates broadcast), and the
    * final per-doc sum joins the bucket table back as a broadcast. No
    * corpus self-join, no Window, no driver-side token data.
    * Materialized with the shared per-(doc,bucket) relation released — see
    * [[materialized]]; the lazy plan takes no persist (the tokenize pass
    * runs once per branch). */
  def dsirWeights(raw: DataFrame, target: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 256,
      materialize: Boolean = true): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val counts = bucketCounts(raw, textCol, idCol, buckets)
    val handle =
      if (materialize) counts.persist(StorageLevel.MEMORY_AND_DISK) else counts
    // a def: analysing `target` may throw, and the helper still releases
    // `handle` then
    def out: DataFrame = {
      // model estimates: bucket-keyed aggregates (<= `buckets` rows each)
      val rc = handle.groupBy(col("bkt")).agg(sum(col("c")).as("cr"))
      val tc = bucketCounts(target, textCol, idCol, buckets)
        .groupBy(col("bkt")).agg(sum(col("c")).as("ct"))
      val totals = rc.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
        .crossJoin(tc.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
      // per-bucket log-ratio in integer micros: the ONE rounding point.
      // Buckets unseen in the target get ct=0 (+1 smoothing); every bucket
      // reaching the join below exists in raw by construction.
      val lr = rc.join(tc, Seq("bkt"), "left").crossJoin(totals)
        .select(col("bkt"),
          round((log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
                     (col("tt") + lit(buckets.toDouble))) -
                 log((col("cr") + lit(1.0)) /
                     (col("tr") + lit(buckets.toDouble)))) * lit(1e6))
            .cast("long").as("lr_micros"))
      val w = handle.join(broadcast(lr), Seq("bkt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          sum(col("c") * col("lr_micros")).as("weight_micros"))
      allDocsLeft(raw, w, idCol, Seq("n_grams", "weight_micros"))
    }
    if (materialize) materialized(handle)(out) else out
  }

  /** Gumbel-top-k resampling over importance weights — the selection step
    * that completes [[dsirWeights]] into DSIR proper: drawing k documents
    * without replacement with probability ∝ exp(weight/temperature) is
    * exactly "add independent Gumbel noise to each log-weight and keep the
    * k largest keys" (the Gumbel-top-k trick; Xie et al. 2023 §2.3).
    *
    * Deterministic and engine-exact: the uniform driving each document's
    * Gumbel draw is the first 13 md5 hex digits of `seed:doc_id` (u =
    * (h + 0.5) / 16^13, strictly inside (0,1); 16^13 = 2^52 so every step
    * is an exact double), g = -ln(-ln(u)), and the sampling key is the
    * integer `key_micros = round(weight/temperature) + round(1e6·g)` —
    * ties broken by doc_id, so the selected SET is a pure function of
    * (weights, seed, k, temperature) on any engine and any partitioning.
    *
    * Scale shape: one narrow projection then `orderBy(...).limit(k)`,
    * which Spark plans as TakeOrderedAndProject — bounded per-partition
    * top-k merged on the driver, no global sort, no Window, no corpus
    * shuffle. k rows cross the wire, nothing else. */
  def gumbelTopK(weights: DataFrame, k: Int, seed: Long = 42L,
      weightCol: String = "weight_micros", idCol: String = "doc_id",
      temperature: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(temperature > 0.0, s"temperature must be > 0, got $temperature")
    val h = conv(substring(TextOps.md5Key(
        concat(lit(seed.toString), lit(":"), col(idCol).cast("string"))),
        1, 13), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0) // 16^13
    val gumbelMicros = round(lit(1e6) * -log(-log(u))).cast("long")
    val key = (round(col(weightCol) / lit(temperature)).cast("long") +
      gumbelMicros).as("key_micros")
    weights.select(col(idCol), col(weightCol), key)
      .orderBy(col("key_micros").desc, col(idCol))
      .limit(k)
  }

  /** Per-document negative log-likelihood under a hashed-unigram language
    * model — the CCNet-style perplexity-filter score (Wenzek et al. 2020
    * score documents with an in-domain LM and keep the low-perplexity
    * head/middle; here the LM is the Laplace-smoothed hashed-unigram model
    * over `buckets` features, estimated from `lm` — pass a quality corpus,
    * or `corpus` itself for a self-perplexity repetitiveness signal).
    *
    * Output per doc: `n_grams` and `nll_micros_per_tok` =
    * floor(Σ_tokens −ln p(bucket(token)) · 1e6 / n_grams) — average
    * token NLL in integer micros (log-perplexity; perplexity =
    * exp(micros/1e6)). Fixed-point contract like [[dsirWeights]]: each
    * bucket's −ln p is rounded ONCE to micros, the per-doc sum is an exact
    * bigint, and the final average is floor of an IEEE division of two
    * < 2^53 integers — exact on any engine up to the same single-`ln`
    * libm caveat documented on [[dsirWeights]]. Token-free docs score 0.
    *
    * Scale shape: identical to [[dsirWeights]] — one tokenize pass into
    * per-(doc,bucket) counts, a bucket-cardinality model aggregate that
    * broadcasts back, one per-doc sum; no Window, no corpus self-join.
    * Same cache ownership contract as [[dsirWeights]]. */
  def unigramNll(corpus: DataFrame, lm: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 256,
      materialize: Boolean = true): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val counts = bucketCounts(corpus, textCol, idCol, buckets)
    val handle =
      if (materialize) counts.persist(StorageLevel.MEMORY_AND_DISK) else counts
    // a def, as in dsirWeights: analysing `lm` may throw
    def out: DataFrame = {
      // when lm eq corpus, reuse the (possibly persisted) corpus relation
      val lmCounts =
        if (lm eq corpus) handle else bucketCounts(lm, textCol, idCol, buckets)
      val mc = lmCounts.groupBy(col("bkt")).agg(sum(col("c")).as("cm"))
      val total = mc.agg(coalesce(sum(col("cm")), lit(0L)).as("tm"))
      // per-bucket token NLL in integer micros: the ONE rounding point.
      // The bucket dimension is the free `range(buckets)` (every corpus
      // bucket is in [0, buckets) by construction), not a distinct() over
      // the corpus relation — that would be a second full pass over the
      // largest intermediate just to recover ≤ `buckets` values. Buckets
      // absent from the LM get the cm=0 smoothed mass via the left join;
      // buckets absent from the corpus cost ≤ `buckets` dead rows that the
      // inner join below drops.
      val bktDim = corpus.sparkSession.range(buckets).select(col("id").as("bkt"))
      val nll = bktDim.join(mc, Seq("bkt"), "left").crossJoin(total)
        .select(col("bkt"),
          round(lit(1e6) * -log((coalesce(col("cm"), lit(0L)) + lit(1.0)) /
              (col("tm") + lit(buckets.toDouble))))
            .cast("long").as("nll_micros"))
      val perDoc = handle.join(broadcast(nll), Seq("bkt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          sum(col("c") * col("nll_micros")).as("nll_sum"))
        .select(col("doc_id"), col("n_grams"),
          floor(col("nll_sum").cast("double") / col("n_grams").cast("double"))
            .cast("long").as("nll_micros_per_tok"))
      allDocsLeft(corpus, perDoc, idCol, Seq("n_grams", "nll_micros_per_tok"))
    }
    if (materialize) materialized(handle)(out) else out
  }
}
