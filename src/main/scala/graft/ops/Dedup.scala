package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for web-scale corpora. Each returns a DataFrame
  * suitable for the driver's oracle compare; all are shuffle-conscious:
  *
  *   - exact: one hash-groupBy shuffle, map-side partial agg free.
  *   - minhash-LSH: shingle→signature in a narrow map, ONE shuffle on the
  *     (band, bucket) key that carries each full signature, candidate pairs
  *     verified by their estimated Jaccard inside the bucket pass (no
  *     persist, no join back to the signatures) — the standard banding
  *     scheme (Broder; Leskovec et al. MMDS ch.3).
  *   - simhash: 64-bit signature in a narrow map; pigeonhole banding on
  *     Manku's combined-chunk tables → exact Hamming verify in the bucket
  *     pass (Charikar; Manku et al. WWW'07 near-duplicate detection).
  *   - ngram-jaccard: rare-shingle inverted-index blocking, exact verify.
  *   - embedding cosine: exact all-pairs above a threshold via block-nested
  *     join (sf scale); the LSH-bucketed variant for the 100 TB path is in
  *     Similarity.scala.
  *
  * The banded producers (minhash, simhash and that LSH variant) are each
  * one lazy plan that persists nothing; building one runs no job.
  *
  * At 10^12 rows the LSH variants are the only viable paths: their shuffles
  * key on short signatures (bytes, not documents), hot buckets are capped
  * (maxBucket) exactly like the reference caps detection candidates
  * (/root/reference/src/processors/db_postprocess.rs:81 max_candidates=1000).
  */
object Dedup {

  /** Exact duplicate groups by content hash; keeps the minimum doc_id as the
    * canonical representative. One shuffle. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), TextOps.md5Key(col(textCol)).as("content_md5"))
      .groupBy(col("content_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** `nShingles == 0` (text shorter than shingleK) leaves `sig` at the
    * all-MaxValue sentinel — such docs carry NO minhash evidence and must
    * never pair (two unrelated 2-char docs would otherwise estimate 100 %
    * similar); [[minhashPairs]] excludes them, mirroring the witness form's
    * null-signature convention. */
  final case class DocSig(doc_id: Long, sig: Array[Long], nShingles: Int)
  final case class BandKey(band: Int, bucket: Long, doc_id: Long, sig: Array[Long])

  /** Signature length of [[minhashSignatures]]: the positions that
    * [[minhashPairs]] bands and [[minhashEstimate]] compares. */
  private final val NumHashes = 64
  /** Shingle width of [[minhashSignatures]], in chars. */
  private final val ShingleK = 5

  /** MinHash signatures: k char-[[ShingleK]]-shingles → [[NumHashes]]
    * permutation mins. A narrow map over the [[spread]] `(doc_id, text)`
    * projection. */
  def minhashSignatures(docs: DataFrame): Dataset[DocSig] = {
    // deterministic affine permutations over the shingle hash space
    val as = Array.tabulate(NumHashes)(i => 0x9E3779B97F4A7C15L * (2L * i + 1))
    val bs = Array.tabulate(NumHashes)(i => 0xC2B2AE3D27D4EB4FL * (i + 1))
    spread(docs.select(col("doc_id").cast("long"), col("text")), "doc_id").as(TypedEncoders.idText)
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val sh = TextOps.charShingleHashes(if (text == null) "" else text.toLowerCase, ShingleK)
          val sig = Array.fill(NumHashes)(Long.MaxValue)
          var i = 0
          while (i < sh.length) {
            val h = sh(i)
            var j = 0
            while (j < NumHashes) {
              val v = as(j) * h + bs(j)
              if (v < sig(j)) sig(j) = v
              j += 1
            }
            i += 1
          }
          DocSig(id, sig, sh.length)
        }
      }(TypedEncoders.docSig)
  }

  /** MinHash-LSH near-dup pairs: band signatures, then [[bandedPairs]] per
    * (band, bucket), where each banded row carries its doc's full signature
    * through the bucket exchange and the bucket pass keeps a candidate when
    * [[minhashEstimate]] clears the threshold. Returns (doc_a, doc_b,
    * est_jaccard_pct) with doc_a < doc_b, est >= threshold: every verified
    * pair once per band it shares, with the same estimate each time. A
    * caller that wants the pair set calls `.distinct()`; d05 counts
    * distinct partners on its own exchange (`SparkEntry.withNearDups`).
    *
    * Lazy by design, like [[simhashPairs]]: nothing is persisted, and no
    * candidate set is deduplicated or joined back to the signatures. */
  def minhashPairs(docs: DataFrame,
      bands: Int = 16, threshold: Double = 0.7, maxBucket: Int = 64): DataFrame = {
    // bands must tile the signature exactly: bands > NumHashes makes
    // rowsPerBand 0 (every doc hashes to ONE constant bucket — silently
    // zero pairs once maxBucket skips it), bands = 0 divides by zero, and a
    // non-divisor silently ignores the trailing signature rows
    require(bands >= 1 && bands <= NumHashes && NumHashes % bands == 0,
      s"bands must divide $NumHashes (got $bands)")
    // shingle-less docs (text shorter than ShingleK) carry no evidence:
    // exclude them here or every pair of them estimates 100 % similar
    val sigs = minhashSignatures(docs).filter(_.nShingles > 0)
    val rowsPerBand = NumHashes / bands
    val banded = sigs.flatMap { s =>
      (0 until bands).iterator.map { b =>
        var h = 0xcbf29ce484222325L
        var r = 0
        while (r < rowsPerBand) {
          h = (h ^ s.sig(b * rowsPerBand + r)) * 0x100000001b3L
          r += 1
        }
        BandKey(b, h, s.doc_id, s.sig)
      }
    }(TypedEncoders.bandKey)
    // candidate pairs within a bucket, verified there; hot buckets capped
    // (skew guard)
    bandedPairs(banded.toDF(), maxBucket)(r => (r.getLong(2), r.getSeq[Long](3).toArray)) {
      case ((a, sa), (b, sb)) => minhashEstimate(sa, sb, threshold).map(est => (a, b, est))
    }(TypedEncoders.pairInt)
      .toDF("doc_a", "doc_b", "est_jaccard_pct")
  }

  /** The in-bucket minhash verify: the estimated Jaccard of two
    * [[NumHashes]]-position signatures in whole percent,
    * `((100 * eq) / NumHashes).toInt` over the `eq` equal positions — the
    * double and the truncating cast of the SQL form
    * `(100 * eq / 64).cast("int")` — or None below `threshold`. */
  private[graft] def minhashEstimate(a: Array[Long], b: Array[Long], threshold: Double): Option[Int] = {
    val n = math.min(a.length, b.length)
    var eq = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    val est = ((100 * eq).toDouble / NumHashes).toInt
    // round, don't truncate: 0.29 * 100 is 28.999... in IEEE doubles, and
    // a floor would silently lower the nominal threshold by one point
    if (est >= math.round(threshold * 100).toInt) Some(est) else None
  }

  /** MinHash signatures in an engine-agnostic md5 hash family — the oracle
    * WITNESS for minhash semantics: signature position j is the minimum of
    * md5("j:" ++ shingle) over the document's char-`shingleK`-shingles
    * (classic k-independent-hash minhash, Broder 1997). Shingles are drawn
    * over the space-joined [[TextOps.asciiTokens]] text, so case folding and
    * substring positions are bit-identical between Spark and the DuckDB
    * oracle (no locale/Unicode drift). Long output (doc_id, hash_idx,
    * minhash) so the driver's value hash covers every signature position.
    *
    * The production path is [[minhashSignatures]] (JVM affine permutations
    * over one shingle-hash pass — far cheaper); THIS form exists to pin the
    * min-over-hash-family semantics against an independent engine. Same
    * narrow shape: tokenize → shingle (projected attribute) → explode of
    * `numHashes` seed rows per doc → per-row array_min. No shuffle at all.
    * Docs shorter than one shingle emit null minhashes rather than
    * disappearing (list_min of an empty list is NULL in both engines). */
  def minhashSignaturesWitness(docs: DataFrame, numHashes: Int = 16,
      shingleK: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(shingleK >= 1, s"shingleK must be >= 1, got $shingleK")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        array_join(TextOps.asciiTokens(col(textCol)), " ").as("__b"))
      // guard the short-doc case explicitly: Spark's sequence(1, 0) counts
      // DOWN ([1, 0]) instead of returning empty, which would fabricate
      // out-of-range shingles ("" substrings) on sub-shingle docs
      .select(col("doc_id"),
        when(length(col("__b")) < shingleK, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), length(col("__b")) - (shingleK - 1)),
            i => col("__b").substr(i, lit(shingleK)))).as("__sh"))
      .select(col("doc_id"), col("__sh"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("hash_idx"))
      .select(col("doc_id"), col("hash_idx").cast("int").as("hash_idx"),
        array_min(transform(col("__sh"), s =>
          md5(to_binary(concat(col("hash_idx").cast("string"), lit(":"), s),
            lit("utf-8"))))).as("minhash"))
  }

  /** SimHash in an engine-agnostic md5 hash family — the oracle WITNESS for
    * simhash semantics (per-bit majority vote over token hashes, Charikar
    * 2002): token hash = the top 60 bits of md5 (15 hex chars parsed as an
    * integer — 60 so the value is sign-safe as a BIGINT in both engines),
    * bit b of the signature = 1 iff strictly more token hashes have bit b
    * set than clear (ties → 0, the same convention as the production
    * [[simhash]]). Output (doc_id, simhash) with the 60-bit signature as a
    * non-negative long; docs with no tokens emit 0, not a missing row.
    *
    * The production path is [[simhash]]/[[simhashPairs]] (one fused JVM
    * pass, fnv1a64, 64 bits); THIS form exists to pin the per-bit-majority
    * semantics against an independent engine — every intermediate (md5,
    * hex parse, shift, majority, bit assembly) is bit-identical in DuckDB.
    * Shape: narrow explode of tokens × 60 bit rows, then two partial-agg
    * groupBys ((doc, bit) majority, then doc assembly) — no Window, no
    * self-join; a witness query, not the corpus-scale path. */
  def simhashWitness(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      TextOps.asciiTokens(col(textCol)).as("__t"))
    toks
      .select(col("doc_id"), explode_outer(col("__t")).as("tok"))
      .select(col("doc_id"),
        when(col("tok").isNotNull,
          conv(substring(md5(to_binary(col("tok"), lit("utf-8"))), 1, 15),
            16, 10).cast("long")).as("h"))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(59))).as("b"))
      .select(col("doc_id"), col("b"),
        when(col("h").isNull, lit(0L))
          .otherwise(when(expr("(h >> b) & 1") === 1, lit(1L))
            .otherwise(lit(-1L))).as("v"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("v")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)"))
        .otherwise(lit(0L))).as("simhash"))
  }

  /** Duplicate-window statistics — the counting pass of exact substring
    * deduplication over sliding token windows (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": any n-token
    * span occurring >= 2 times corpus-wide — including twice in one document
    * — is a duplicated span; production pipelines use n around 50, a
    * parameter here). Distinct from [[graft.ops.SegmentOps.segmentDedup]]
    * (delimiter-bounded segments, not sliding windows) and
    * [[graft.ops.Decontam.flagOverlap]] (overlap vs an external benchmark
    * set, not intra-corpus).
    *
    * Returns (doc_id, n_windows, n_dup_windows, dup_pct) per document; docs
    * with fewer than n tokens report 0/0/0 rather than disappearing.
    * Materialized — see [[materialized]]; the lazy plan has no internal
    * cache to orphan (plan shape below).
    *
    * Plan shape at 10^12 rows — built on the complement identity
    * n_dup_windows = n_windows − n_singleton_windows, where a singleton
    * window is one whose gram occurs exactly once corpus-wide and therefore
    * has exactly ONE owning document:
    *  1. narrow explode (windows via the shared [[Decontam.tokenNgrams]]
    *     over projected [[TextOps.asciiTokens]], keyed per `oracleKeys` so
    *     arbitrary-length grams never ride a shuffle) into ONE gram-keyed
    *     groupBy carrying (count, any owner doc_id) with map-side partial
    *     agg — the only window-cardinality exchange in the plan;
    *  2. count==1 survivors collapse doc-keyed (partial agg shrinks each
    *     map partition to ≤ #distinct-docs rows) into per-doc singleton
    *     counts;
    *  3. n_windows comes from a second NARROW tokenize (token count only —
    *     no gram strings, no explode), left-joined doc-keyed against (2).
    * Versus the previous persist-the-grams + join-back-on-gram-key shape
    * this trades a cache write+read of every window row and a second
    * window-cardinality exchange for one extra tokenize pass — at 250 MB
    * text / 40 M windows per 20 k docs that is ~2× faster, and at 10^12
    * docs it removes the single biggest exchange. A corpus-hot gram still
    * costs one aggregate row, never candidate pairs. No corpus self-join,
    * no Window, no collect, no internal persist.
    *
    * `oracleKeys` picks the window key. Default true — md5 over the
    * space-joined gram STRING, the shared d02/d22/d27 convention an
    * independent SQL engine can recompute, which is what the d27 oracle
    * does. Pipeline stages that never meet the oracle (x15's cull) should
    * pass false: the native codegen'd [[graft.functions.WindowXx64Keys]]
    * emits 8-byte long keys straight from per-token xxhash64s — no gram
    * strings, no interpreted higher-order functions, ~4x less shuffle
    * payload on the gram-keyed exchange. A 64-bit collision falsely marks
    * BOTH colliding windows duplicated; by birthday bound, even at 10^12
    * corpus windows that is ~1e-8 of windows — noise against a
    * whole-document dup_pct threshold. */
  def dupWindowStats(docs: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      materialize: Boolean = true,
      oracleKeys: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__txt"))
    // per-doc window counts: a native token-count scan — no token array, no
    // gram strings, no explode. The doc-keyed agg (cheap: partial agg
    // collapses each map partition to ≤ #distinct-docs rows) keeps the
    // one-output-row-per-doc_id contract even if an id appears on several
    // input rows, exactly like the final doc-keyed groupBy of the previous
    // formulation.
    val counts = base.select(col("doc_id"),
      greatest(TextOps.asciiTokenCount(col("__txt")) - (n - 1), lit(0))
        .cast("long").as("n_windows"))
      .groupBy(col("doc_id")).agg(sum(col("n_windows")).as("n_windows"))
    val keyed =
      if (oracleKeys) base
        .select(col("doc_id"), TextOps.asciiTokens(col("__txt")).as("__t"))
        .select(col("doc_id"),
          explode(Decontam.tokenNgrams(col("__t"), n)).as("g"))
        .select(col("doc_id"), TextOps.md5Key(col("g")).as("gkey"))
      else base.select(col("doc_id"),
        explode(graft.functions.TokenFunctions.windowXx64Keys(
          TextOps.asciiTokens(col("__txt")), n)).as("gkey"))
    val singletons = keyed
      .groupBy(col("gkey"))
      .agg(count(lit(1)).as("__c"), min(col("doc_id")).as("doc_id"))
      .filter(col("__c") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__n_singleton"))
    // NULL-SAFE doc join (<=>): ids that are null or fail the long cast
    // group under the null key in BOTH aggregates (groupBy keeps a null
    // group), and a plain equi-join would never match them — silently
    // dropping their singleton credit and reporting dup_pct = 100 for
    // unique text. The old gram-join formulation handled the null group
    // correctly; this keeps that contract.
    val sNulls = singletons.select(col("doc_id").as("__sdoc"),
      col("__n_singleton"))
    val out = counts
      .join(sNulls, col("doc_id") <=> col("__sdoc"), "left")
      .select(col("doc_id"), col("n_windows"),
        (col("n_windows") - coalesce(col("__n_singleton"), lit(0L)))
          .as("n_dup_windows"))
      // floor() keeps the integer percent engine-agnostic: both engines'
      // `/` on integers yields a double, exact here (operands << 2^53)
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        when(col("n_windows") === 0, lit(0L))
          .otherwise(floor(lit(100) * col("n_dup_windows") / col("n_windows")))
          .cast("long").as("dup_pct"))
    if (materialize) materialized()(out) else out
  }

  /** Exact-substring REMOVAL pass (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", §4.1 ExactSubstr): every n-token
    * window whose gram occurs ≥ 2 times corpus-wide is removed from every
    * document EXCEPT the one holding the gram's first occurrence (lowest
    * (doc_id, position) — "remove the substring from all but one of them").
    * A token is dropped iff ≥ 1 non-owner duplicated window covers it;
    * overlapping flagged windows merge into maximal removed spans exactly as
    * coverage implies. Completes [[dupWindowStats]] (the counting pass) into
    * the cleaning transform.
    *
    * Removal operates on the NORMALIZED TOKEN STREAM (the shared
    * [[TextOps.asciiTokens]] convention every gram operator uses), and
    * `text_clean` is the space-joined kept tokens — the honest contract for
    * a tokenizer-defined operator (raw-byte splicing would claim a fidelity
    * the window grammar doesn't have). Returns
    * (doc_id, n_tokens, n_removed, text_clean) per input row.
    *
    * Plan shape at 10^12 rows: one narrow tokenize (persisted doc-sized, not
    * window-sized), a window explode into the gram-keyed groupBy carrying
    * (count, first owner) with map-side partial agg, then — the cost the
    * counting pass's complement identity avoids and a removal pass cannot —
    * ONE join-back of the re-exploded windows against the (count ≥ 2)-
    * filtered gram table, both sides hash-partitioned on the same short key
    * (exchange-reusable), the duplicated-gram side pre-shrunk by the filter.
    * Flag positions collapse doc-keyed (a doc's flag list is bounded by its
    * own window count — doc-sized rows, never corpus-sized), and one narrow
    * map rebuilds the kept text. No corpus self-join, no Window, no collect.
    *
    * Rows with null / uncastable ids pass through UNMODIFIED and do not
    * enter the window stream (an owner must be addressable); ids are
    * expected unique per row (Lee et al. is a per-document transform).
    * `oracleKeys` as in [[dupWindowStats]]: md5 gram-string keys the d42
    * DuckDB oracle recomputes, or native xxhash64 window keys for
    * oracle-free pipeline stages (~1e-8 false-flag rate at 10^12 windows).
    * Materialized with the tokenize cache released — see [[materialized]];
    * the lazy plan takes no persist (the tokenize runs once per branch). */
  def removeDupWindows(docs: DataFrame, n: Int = 50,
      textCol: String = "text", idCol: String = "doc_id",
      oracleKeys: Boolean = true, materialize: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__txt"))
    val toks0 = base.select(col("doc_id"),
      TextOps.asciiTokens(col("__txt")).as("__t"))
    val toks = if (materialize)
      toks0.persist(StorageLevel.MEMORY_AND_DISK) else toks0
    // posexplode: pos = 0-based window start, aligned with the gram array
    // (tokenNgrams/windowXx64Keys emit exactly one entry per start). The
    // md5 projection runs post-explode in the same stage — gram strings
    // never ride a shuffle.
    val addressed = toks.filter(col("doc_id").isNotNull)
    val w =
      if (oracleKeys) addressed
        .select(col("doc_id"),
          posexplode(Decontam.tokenNgrams(col("__t"), n)).as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos"), TextOps.md5Key(col("g")).as("gkey"))
      else addressed
        .select(col("doc_id"), posexplode(
          graft.functions.TokenFunctions.windowXx64Keys(col("__t"), n))
          .as(Seq("pos", "gkey")))
    val dupGrams = w.groupBy(col("gkey"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("doc_id"), col("pos"))).as("__own"))
      .filter(col("__c") >= 2)
      .select(col("gkey"), col("__own"))
    val flags = w.join(dupGrams, Seq("gkey"))
      .filter(!(col("doc_id") === col("__own.doc_id") &&
        col("pos") === col("__own.pos")))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("__flags"))
    val out = toks.join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__t"), col("__flags"))
      .as[(java.lang.Long, Seq[String], Seq[Int])]
      .map { case (id, t0, fl) =>
        val t = if (t0 == null) Seq.empty[String] else t0
        val covered = new Array[Boolean](t.length)
        if (fl != null) fl.foreach { p =>
          var i = p
          val end = math.min(p + n - 1, t.length - 1)
          while (i <= end) { covered(i) = true; i += 1 }
        }
        val kept = new StringBuilder
        var removed = 0L
        var i = 0
        while (i < t.length) {
          if (covered(i)) removed += 1
          else {
            if (kept.nonEmpty) kept.append(' ')
            kept.append(t(i))
          }
          i += 1
        }
        (id, t.length.toLong, removed, kept.toString)
      }
      .toDF("doc_id", "n_tokens", "n_removed", "text_clean")
    if (materialize) materialized(toks)(out) else out
  }

  /** SimHash 64-bit signature of token features. */
  def simhash(text: String): Long = {
    val toks = TextOps.tokenize(if (text == null) "" else text.toLowerCase)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = TextOps.fnv1a64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash signatures: [[simhash]] of each document, as (doc_id,
    * simhash). A narrow map over the [[spread]] `(doc_id, text)`
    * projection, the counterpart of [[minhashSignatures]]. */
  def simhashSignatures(docs: DataFrame): Dataset[(Long, Long)] =
    spread(docs.select(col("doc_id").cast("long"), col("text")), "doc_id")
      .as(TypedEncoders.idText)
      .map { case (id, t) => (id, simhash(t)) }(TypedEncoders.idLong)

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, GUARANTEED
    * complete only for maxHamming <= 3 (enforced), via
    * Manku-style combined-chunk banding (Manku/Jain/Sarma, WWW'07 §3): the
    * 64-bit signature is split into 5 chunks (13/13/13/13/12 bits) and every
    * pair of chunks forms one of C(5,2)=10 band tables keyed on the ~26-bit
    * chunk concatenation. Any pair within Hamming distance 3 flips bits in at
    * most 3 chunks, leaving >= 2 chunks untouched, so it collides in at least
    * one table — the pigeonhole guarantee — while the 26-bit keys give ~6.7e7
    * buckets per table (vs 65k for naive 16-bit chunks, whose buckets go
    * quadratic past ~1e9 docs). Hot buckets are capped like minhash's
    * (skew guard, mirrors the reference's max-candidates cap in
    * /root/reference/src/processors/db_postprocess.rs:81).
    * Returns (doc_a, doc_b, hamming), exact-Hamming verified inside the
    * bucket pass of [[bandedPairs]], which carries each signature as the
    * payload: every verified pair once per table it shares. A caller that
    * wants the pair set calls `.distinct()`; d06 counts distinct partners
    * on its own exchange (`SparkEntry.withNearDups`). The signatures are
    * [[simhashSignatures]].
    *
    * Lazy by design, like the other banded producers ([[minhashPairs]],
    * `Similarity.nearDupPairsLsh`): nothing is persisted. d06 reads the
    * stream once (one explode over doc_a and doc_b), so its banded shuffle
    * runs once (OpsSpec pins this). A materialized variant (persisted
    * signatures, join-verify, a cached result) measured about 25 % slower
    * on d06 at sf0.1, local[4], when the bucket pass still ran through
    * `groupByKey`. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 256): DataFrame = {
    // the C(5,2) construction pigeonholes only d <= 3 (>= 2 untouched
    // chunks); a larger maxHamming would silently lose recall — refuse it
    // rather than under-deliver (Manku's general construction would derive
    // the chunk count from maxHamming)
    require(maxHamming <= 3, s"simhashPairs guarantees recall only for maxHamming <= 3 (got $maxHamming)")
    // 5 chunk widths summing to 64; offsets precomputed
    val widths = Array(13, 13, 13, 13, 12)
    val offsets = widths.scanLeft(0)(_ + _).init
    def chunk(sig: Long, c: Int): Long =
      (sig >>> offsets(c)) & ((1L << widths(c)) - 1)
    val tables = for { i <- 0 until 5; j <- (i + 1) until 5 } yield (i, j)
    val banded = simhashSignatures(docs).flatMap { case (id, sig) =>
      tables.iterator.zipWithIndex.map { case ((i, j), t) =>
        (t, (chunk(sig, i) << 13) | chunk(sig, j), id, sig)
      }
    }(TypedEncoders.simhashBand)
    bandedPairs(banded.toDF(), maxBucket)(r => (r.getLong(2), r.getLong(3))) {
      case ((a, sa), (b, sb)) =>
        val h = java.lang.Long.bitCount(sa ^ sb)
        if (h <= maxHamming) Some((a, b, h)) else None
    }(TypedEncoders.pairInt)
      .toDF("doc_a", "doc_b", "hamming")
  }

  /** Jaccard oracle witness (d31) — the d28/d29/d30 pattern applied to the
    * last hash-defined dedup family: [[ngramJaccardPairs]]' scale path keys
    * gram sets with fnv hashes an independent engine cannot recompute, so
    * this witness pins the SET-OVERLAP semantics (exact Jaccard over
    * per-document DISTINCT n-gram sets, the Lee-et-al/Gopher near-dup
    * definition) with md5 gram keys both engines compute bit-identically.
    * ALL pairs sharing >= 1 gram over the given (small, sliced) corpus —
    * plain joins and aggregates, no list functions, so the DuckDB oracle is
    * the literal same query. floor() keeps the integer percent
    * engine-agnostic (d27 precedent). A witness, not the scale path: the
    * gram self-join is quadratic in docs-per-shared-gram and must only run
    * on a witness slice ([[ngramJaccardPairs]] is the df-capped production
    * operator). */
  def jaccardWitness(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val grams = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.asciiTokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        explode(Decontam.tokenNgrams(col("__t"), n)).as("g"))
      .select(col("doc_id"), TextOps.md5Key(col("g")).as("gkey"))
      .distinct()
    val sizes = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"))
    val inter = grams.select(col("doc_id").as("doc_a"), col("gkey"))
      .join(grams.select(col("doc_id").as("doc_b"), col("gkey")), Seq("gkey"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("__n").as("__na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("__n").as("__nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        floor(lit(100) * col("__i") / (col("__na") + col("__nb") - col("__i")))
          .cast("long").as("jaccard_pct"))
  }

  /** Token-3-gram Jaccard near-dups via rare-shingle inverted-index blocking:
    * only shingles with document frequency <= maxDf generate candidates (the
    * common-shingle tail would explode quadratically), then exact Jaccard on
    * the pair. Returns (doc_a, doc_b, jaccard_pct), materialized with the
    * per-doc gram-set cache released — see [[materialized]]. */
  def ngramJaccardPairs(spark: SparkSession, docs: DataFrame,
      n: Int = 3, threshold: Double = 0.5, maxDf: Int = 32,
      materialize: Boolean = true): DataFrame = {
    import spark.implicits._
    // per-doc sorted distinct gram-hash sets; everything downstream derives
    // from this one narrow pass (persisted: feeds the df count, the blocking
    // join, and the verify join)
    val gsets = docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val hs = TextOps.tokenNgramHashes(
          TextOps.tokenize(if (t == null) "" else t.toLowerCase), n).distinct.sorted
        (id, hs)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val grams = gsets.flatMap { case (id, hs) => hs.iterator.map(g => (id, g)) }
      .toDF("doc_id", "gram")
    val rare = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    // candidate generation ONLY over df-capped grams: each rare gram yields
    // <= maxDf^2 pair rows, so no hot-shingle explosion
    val candidates = grams.join(rare, "gram")
      .select(col("gram"), col("doc_id"))
    val pairs = candidates.toDF("gram", "doc_a")
      .join(candidates.toDF("gram", "doc_b"), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // exact verify: join the (small) candidate pair set with the per-doc gram
    // sets and sorted-merge the intersection — the full `grams` table is
    // never self-joined, so a stopword shingle with df=1e6 costs nothing here
    val out = pairs
      .join(gsets.toDF("doc_a", "set_a"), "doc_a")
      .join(gsets.toDF("doc_b", "set_b"), "doc_b")
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("set_a"), col("set_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) =>
        var i = 0; var j = 0; var inter = 0
        while (i < sa.length && j < sb.length) {
          val c = java.lang.Long.compare(sa(i), sb(j))
          if (c == 0) { inter += 1; i += 1; j += 1 }
          else if (c < 0) i += 1
          else j += 1
        }
        val pct = (100.0 * inter / (sa.length + sb.length - inter)).toInt
        (a, b, pct)
      }
      .toDF("doc_a", "doc_b", "jaccard_pct")
      // round, not floor — same IEEE boundary note as minhashPairs
      .filter(col("jaccard_pct") >= math.round(threshold * 100).toInt)
    if (materialize) materialized(gsets)(out) else out
  }

  /** Incremental-crawl dedup: the rows of `batch` whose `keyCol` does NOT
    * appear in `seen` — the cross-snapshot "is this page new?" gate a
    * recurring crawl runs before paying extraction / near-dup cost on
    * re-crawled bytes. Key on a content hash (re-crawl dedup) or a
    * canonicalized url (frontier dedup); both sides just need the column.
    *
    * Semantics are EXACT — identical to `batch LEFT ANTI JOIN seen ON key`
    * (null-keyed batch rows survive, as with NOT EXISTS). The Bloom filter
    * is purely a bandwidth optimization, applied in the runtime-filter
    * direction: it is built over the BATCH keys (today's crawl — the small
    * side) by Spark's distributed sketch aggregate, broadcast once, and
    * applied as a narrow filter to the SEEN side (the historical corpus —
    * the huge side), so only seen keys that might collide with a batch key
    * ever reach the anti-join's shuffle. A false positive only lets an
    * extra seen key through to the exact join (harmless); Bloom filters
    * have no false negatives, so no genuinely-colliding key is lost. At
    * 10^12 seen keys this is the difference between shuffling ~|batch|
    * keys and shuffling the entire historical key column.
    *
    * The filter lives in a BROADCAST variable probed from a typed filter —
    * never as a plan literal (a 10^9-key filter at 1% fpp is ~1.2 GB; a
    * plan-embedded literal of that size is the round-3 hyperplane-literal
    * scale bug all over again). If the optimal filter for the batch size at
    * `fpp` would exceed `maxBloomBytes`, the prefilter is skipped and the
    * plain anti-join carries the query alone — still exact, still one
    * shuffle, just without the seen-side scan discount.
    *
    * `expectedBatchKeys` <= 0 means "count the batch first" (one cheap
    * columnar job); pass the known crawl size to skip it. Supported key
    * types: string and integral (both hashed exactly as
    * `DataFrameStatFunctions.bloomFilter` puts them); both sides must
    * agree on which of the two families the key is — a string batch
    * against an integral seen is a loud error here, not a task-side
    * ClassCastException or an implicit cross-type cast in the join.
    *
    * Building the Bloom sketch is an EAGER driver-coordinated aggregation
    * over the batch keys (exactly like a broadcast join build, just ahead
    * of plan execution). `materialize = false` skips it and returns the
    * plain exact anti-join as an UNEXECUTED plan — same rows, no
    * prefilter, nothing run — for explain/audit or for callers that know
    * the seen-side scan discount isn't worth a batch pass. */
  def incrementalNew(batch: DataFrame, seen: DataFrame,
      keyCol: String = "content_md5",
      fpp: Double = 0.01,
      maxBloomBytes: Long = 256L << 20,
      expectedBatchKeys: Long = -1L,
      materialize: Boolean = true): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    import org.apache.spark.sql.types.{StringType, ByteType, ShortType, IntegerType, LongType}
    val spark = batch.sparkSession
    def keyKind(side: String, df: DataFrame): Boolean =
      df.schema(keyCol).dataType match {
        case StringType => true
        case ByteType | ShortType | IntegerType | LongType => false
        case t => throw new IllegalArgumentException(
          s"incrementalNew: unsupported $side key type $t for '$keyCol' (string or integral)")
      }
    val isString = keyKind("batch", batch)
    if (keyKind("seen", seen) != isString)
      throw new IllegalArgumentException(
        s"incrementalNew: batch and seen disagree on '$keyCol' " +
          s"(${batch.schema(keyCol).dataType} vs ${seen.schema(keyCol).dataType})")
    val seenKeys = {
      val k = seen.select(col(keyCol)).where(col(keyCol).isNotNull)
      if (isString) k else k.select(col(keyCol).cast("long").as(keyCol))
    }
    if (!materialize) return batch.join(seenKeys, Seq(keyCol), "left_anti")
    val nBatch =
      if (expectedBatchKeys > 0) expectedBatchKeys
      else batch.select(col(keyCol)).where(col(keyCol).isNotNull).count()
    val prefiltered =
      if (nBatch > 0 && BloomFilter.optimalNumOfBits(nBatch, fpp) <= maxBloomBytes * 8L) {
        val bloomSide =
          if (isString) batch.select(col(keyCol))
          else batch.select(col(keyCol).cast("long").as(keyCol))
        val bloom = bloomSide.stat.bloomFilter(keyCol, nBatch, fpp)
        val bc = spark.sparkContext.broadcast(bloom)
        if (isString)
          seenKeys.filter(r => r.getString(0) != null && bc.value.mightContainString(r.getString(0)))
        else
          seenKeys.filter(r => !r.isNullAt(0) && bc.value.mightContainLong(r.getLong(0)))
      } else seenKeys
    batch.join(prefiltered, Seq(keyCol), "left_anti")
  }

  /** Connected components over an undirected duplicate-pair edge list — the
    * cluster-assignment step that completes the pair-producing family above
    * (minhashPairs / simhashPairs / ngramJaccardPairs / Similarity near-dup
    * pairs): every node gets its component's minimum id as `component` and
    * `is_keeper` = 1 on that representative, so "drop all non-keepers" is
    * one filter/join away.
    *
    * Algorithm: iterated min-label propagation with pointer jumping. Each
    * round first lowers every node's label to the min over its neighbors'
    * labels (one edge⋈label join + groupBy), then jumps label := label(label)
    * (one label self-join) to shortcut chains. Labels are node ids and only
    * ever DECREASE (lbl(u) ≤ u inductively), so Σlbl is a strictly
    * decreasing convergence witness — no row-diff join needed. Real dedup
    * graphs (near-clique LSH clusters) converge in 2–4 rounds; the pointer
    * jump keeps adversarial path graphs at O(log n) rounds instead of
    * O(diameter). Every round is edge-list-sized shuffles keyed on ids — no
    * driver-side graph, no Window; per-round caches are swapped and released
    * eagerly, and each round's plan is re-rooted on the persisted result so
    * the logical tree stays O(1)-sized per round (see reRoot below — without
    * truncation the tree grows 4^k-fold and dies at ~7 rounds).
    *
    * The result is always materialized (the loop must execute to converge)
    * — see [[materialized]]; callers release it like the pair sets above.
    * `nodes` is every id that must appear in the output (singletons label
    * themselves); edges touching ids absent from `nodes` are ignored.
    * Non-convergence within `maxIter` throws rather than returning a
    * half-merged clustering (default 50 covers paths beyond 2^25 nodes long).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      idCol: String = "doc_id", maxIter: Int = 50): DataFrame = {
    val spark = nodes.sparkSession
    // per-round state: `cached` is the persisted handle the finally
    // releases; `labels` re-roots its rows on a fresh LogicalRDD. The
    // truncation is NOT optional: `labels` feeds two plan branches per
    // round (nbrMin and prop) and `prop` feeds both jump sides, so without
    // re-rooting the logical tree grows 4^k-fold — in-memory it is a shared
    // DAG, but every tree-shaped walk (AQE plan stringification, cache
    // lookup canonicalization) traverses it as a tree: at ~7 rounds the
    // ComponentsSpec path graph dies in generateTreeString. The Row
    // round-trip costs one (long,long) decode/encode pass per round —
    // noise next to the round's two shuffles. EVERY loop persist (edges,
    // seed, per-round) is taken inside the try and released in the
    // finally, and the result's own cache is released by [[materialized]]
    // if its count throws, so a failure anywhere — analysis of a bad idCol,
    // a mid-loop job error, the non-convergence throw, the result's
    // materialization — cannot strand corpus-sized caches.
    def reRoot(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    def lblSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var edges: DataFrame = null
    var cached: DataFrame = null
    var prop: DataFrame = null
    var jump: DataFrame = null
    try {
      edges = {
        val e = pairs.select(col(aCol).cast("long").as("u"),
          col(bCol).cast("long").as("v")).filter(col("u") =!= col("v"))
        e.union(e.select(col("v").as("u"), col("u").as("v")))
          .distinct().persist(StorageLevel.MEMORY_AND_DISK)
      }
      cached = nodes
        .select(col(idCol).cast("long").as("node"),
          col(idCol).cast("long").as("lbl"))
        // a duplicated node id would FAN OUT in every pointer-jump join
        // (row count multiplies each round) and inflate the Σlbl
        // convergence witness; dedup the seed — one row per node is the
        // loop's invariant, enforced here rather than assumed of callers
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      var prevSum = lblSum(cached) // materializes the seed labels
      var labels = reRoot(cached)
      var iter = 0
      var converged = edges.isEmpty
      while (!converged && iter < maxIter) {
        val nbrMin = edges
          .join(labels.withColumnRenamed("node", "v"), Seq("v"))
          .groupBy(col("u")).agg(min(col("lbl")).as("nlbl"))
        prop = labels
          .join(nbrMin.withColumnRenamed("u", "node"), Seq("node"), "left")
          .select(col("node"), least(col("lbl"),
            coalesce(col("nlbl"), col("lbl"))).as("lbl"))
          .persist(StorageLevel.MEMORY_AND_DISK) // read by both jump sides
        jump = prop.as("x")
          .join(prop.select(col("node").as("ynode"), col("lbl").as("ylbl")),
            col("x.lbl") === col("ynode"), "left")
          .select(col("x.node").as("node"),
            coalesce(col("ylbl"), col("x.lbl")).as("lbl"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val newSum = lblSum(jump) // materializes this round
        prop.unpersist(false); prop = null
        cached.unpersist(false)
        cached = jump; jump = null
        labels = reRoot(cached)
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
        iter += 1
      }
      require(converged,
        s"connectedComponents did not converge within $maxIter rounds")
      // the loop caches go in the finally below, after this count
      materialized()(labels
        .select(col("node").as(idCol), col("lbl").as("component"),
          (col("node") === col("lbl")).cast("int").as("is_keeper")))
    } finally {
      if (prop != null) prop.unpersist(false)
      if (jump != null) jump.unpersist(false)
      if (cached != null) cached.unpersist(false)
      if (edges != null) edges.unpersist(false)
    }
  }
}
