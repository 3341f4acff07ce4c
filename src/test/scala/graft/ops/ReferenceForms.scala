package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms of operators whose production versions are native
  * expressions or typed maps. The SQL forms are written the way their DuckDB
  * oracles recompute them, and the specs pin the production form against
  * each:
  *   - [[asciiTokensViaRegexp]] vs `TextOps.asciiTokens` (TokenExprSpec);
  *   - [[tokenNgramsViaHof]] vs `Decontam.tokenNgrams` (TokenExprSpec);
  *   - [[langIdDF]] vs `TextOps.langIdFast` (TextExprSpec) and the row form
  *     [[langId]] (OpsSpec);
  *   - [[dot]] vs the native `graft_dot` (OpsSpec);
  *   - [[eqCount]] vs the in-bucket minhash verify `Dedup.minhashEstimate`
  *     (OpsSpec);
  *   - [[signatureExpr]] vs `Similarity.withSignatures` (OpsSpec);
  *   - [[bandedPairs]] (group by key, then [[bucketPairs]]) vs the banded
  *     pair generator `ops.bandedPairs` (OpsSpec);
  *   - [[withNearDups]] over the distinct pairs vs the one-exchange
  *     `SparkEntry.withNearDups` over the pair stream (OpsSpec).
  */
object ReferenceForms {

  /** `base` (its first column the id) with `n_neardups`, the number of
    * `pairs` rows whose first or second column holds the row's id, 0 for
    * none: explode each pair into its two ids, count them per id with a
    * `groupBy`, left-join the counts back to `base`. The form d05, d06, d07
    * and d15 used over their deduplicated pair sets. */
  def withNearDups(base: DataFrame, pairs: DataFrame): DataFrame = {
    val id = base.columns.head
    val Array(a, b) = pairs.columns.take(2)
    val perId = pairs.select(explode(array(col(a), col(b))).as(id))
      .groupBy(id).agg(count(lit(1)).as("n_neardups"))
    base.join(perId, Seq(id), "left")
      .select(base.columns.map(col) :+ coalesce(col("n_neardups"), lit(0L)).as("n_neardups"): _*)
  }

  /** In-bucket candidate pairs of `(band, bucket, id)` rows without an
    * exchange or a sort: group by bucket key in collection code, then
    * [[bucketPairs]] on each group. */
  def bandedPairs(rows: Seq[(Int, Long, Long)], maxBucket: Int): Seq[(Long, Long)] =
    rows.groupBy(r => (r._1, r._2)).values.toSeq
      .flatMap(g => bucketPairs(g.iterator.map(_._3), maxBucket)(identity))

  /** Candidate pairs inside one bucket, as the `flatMapGroups` bodies of the
    * banded producers once computed them: a bucket of more than `maxBucket`
    * members yields nothing (at most `maxBucket + 1` are read); otherwise
    * its members are sorted by `id` (stable) and every i < j pair is
    * yielded, smaller id first. */
  def bucketPairs[T](it: Iterator[T], maxBucket: Int)(id: T => Long): Iterator[(T, T)] = {
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

  /** ASCII `[A-Za-z0-9]+` token runs, lowercased; null text → no tokens. */
  def asciiTokensViaRegexp(text: Column): Column =
    transform(
      regexp_extract_all(coalesce(text, lit("")), lit("[A-Za-z0-9]+"), lit(0)),
      x => lower(x))

  /** Space-joined word n-grams of a token array as a higher-order-function
    * expression; fewer than n tokens → empty. */
  def tokenNgramsViaHof(toks: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** Cheap n-gram/char-class language ID heuristic (the reference's
    * PP-LCNet-classifier analogue — a per-row classifier over cheap features,
    * reference src/models/classification/pp_lcnet.rs:44-53).
    * Returns ISO-ish code or "und".
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val n = math.min(text.length, 4000)
    var cjk = 0; var arab = 0; var cyr = 0; var latin = 0; var hangul = 0; var kana = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c >= 0x4E00 && c <= 0x9FFF) cjk += 1
      else if (c >= 0x3040 && c <= 0x30FF) kana += 1
      else if (c >= 0xAC00 && c <= 0xD7AF) hangul += 1
      else if (c >= 0x0600 && c <= 0x06FF) arab += 1
      else if (c >= 0x0400 && c <= 0x04FF) cyr += 1
      else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= 0xC0 && c <= 0x17F)) latin += 1
      i += 1
    }
    val total = cjk + arab + cyr + latin + hangul + kana
    if (total == 0) return "und"
    if (kana * 5 >= total) "ja"
    else if (hangul * 2 >= total) "ko"
    else if (cjk * 2 >= total) "zh"
    else if (arab * 2 >= total) "ar"
    else if (cyr * 2 >= total) "ru"
    else if (latin * 2 >= total) latinLang(text, n)
    else "und"
  }

  /** Distinguish big latin languages by stopword/diacritic evidence
    * (n-gram-heuristic style; deterministic). */
  private def latinLang(text: String, n: Int): String = {
    val t = " " + text.substring(0, n).toLowerCase + " "
    def c(w: String): Int = {
      var cnt = 0; var at = t.indexOf(w)
      while (at >= 0) { cnt += 1; at = t.indexOf(w, at + 1) }
      cnt
    }
    val en = c(" the ") + c(" and ") + c(" of ") + c(" to ") + c(" is ")
    val de = c(" der ") + c(" und ") + c(" die ") + c(" das ") + c(" ist ") +
      t.count(ch => ch == 'ä' || ch == 'ö' || ch == 'ü' || ch == 'ß')
    val fr = c(" le ") + c(" la ") + c(" les ") + c(" et ") + c(" est ")
    val es = c(" el ") + c(" los ") + c(" las ") + c(" y ") + c(" es ")
    val best = math.max(math.max(en, de), math.max(fr, es))
    if (best == 0) "en"
    else if (best == en) "en" else if (best == de) "de"
    else if (best == fr) "fr" else "es"
  }

  /** Column-expression language ID — the same script-range/stopword heuristic
    * as [[langId]] but as integer-exact Catalyst expressions, so a
    * third-party SQL engine can reproduce the decision bit-for-bit (every
    * count is an integer; the language string is a pure CASE over them).
    * Examines the first 4000 characters like the row kernel. Returns
    * (doc_id, n_latin, n_cjk, detected_lang). */
  def langIdDF(df: DataFrame, text: Column): DataFrame = {
    val s = substring(text, 1, 4000)
    def cnt(c: Column, pattern: String): Column =
      coalesce(regexp_count(c, lit(pattern)), lit(0))
    val cjk = cnt(s, "[\\x{4E00}-\\x{9FFF}]")
    val kana = cnt(s, "[\\x{3040}-\\x{30FF}]")
    val hangul = cnt(s, "[\\x{AC00}-\\x{D7AF}]")
    val arab = cnt(s, "[\\x{0600}-\\x{06FF}]")
    val cyr = cnt(s, "[\\x{0400}-\\x{04FF}]")
    val latin = cnt(s, "[A-Za-z\\x{00C0}-\\x{017F}]")
    val total = cjk + kana + hangul + arab + cyr + latin
    // stopword counting matches the row kernel EXACTLY: the kernel counts
    // literal " word " occurrences on a space-padded lowered string (so
    // "the," adjacent to punctuation does NOT count, and adjacent words may
    // share a delimiter space). Regex form: pad, then DOUBLE every space so
    // non-overlapping "[ ]word[ ]" matches can't steal a shared delimiter —
    // plain RE2-safe patterns, so the DuckDB oracle twin stays expressible
    // (no lookahead).
    val padded = regexp_replace(concat(lit(" "), lower(s), lit(" ")), " ", "  ")
    def stops(ws: String*): Column = cnt(padded, "[ ](?:" + ws.mkString("|") + ")[ ]")
    // diacritics counted on the LOWERED text like the kernel, so uppercase
    // umlauts contribute too
    val wEn = stops("the", "and", "of", "to", "is")
    val wDe = stops("der", "und", "die", "das", "ist") + cnt(lower(s), "[äöüß]")
    val wFr = stops("le", "la", "les", "et", "est")
    val wEs = stops("el", "los", "las", "y", "es")
    val latinLang =
      when(greatest(wEn, wDe, wFr, wEs) === 0, lit("en"))
        .when(wEn >= wDe && wEn >= wFr && wEn >= wEs, lit("en"))
        .when(wDe >= wFr && wDe >= wEs, lit("de"))
        .when(wFr >= wEs, lit("fr"))
        .otherwise(lit("es"))
    df.select(
      col("doc_id").cast("long").as("doc_id"),
      latin.as("n_latin"),
      cjk.as("n_cjk"),
      when(total === 0, lit("und"))
        .when(kana * 5 >= total, lit("ja"))
        .when(hangul * 2 >= total, lit("ko"))
        .when(cjk * 2 >= total, lit("zh"))
        .when(arab * 2 >= total, lit("ar"))
        .when(cyr * 2 >= total, lit("ru"))
        .when(latin * 2 >= total, latinLang)
        .otherwise(lit("und")).as("detected_lang"))
  }

  /** sum(a[i]*b[i]) as double, left fold in index order — the
    * higher-order-function form of `graft_dot`. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Positions where two arrays hold equal values — the SQL form of the
    * minhash verify's count, as it once ran over a join back to the
    * signatures. */
  def eqCount(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), x => x))

  /** Random-hyperplane LSH signature as a Catalyst column: rows sharing a
    * signature land in one bucket. Inlines `bits * dim` plane coefficients as
    * plan literals, which is why production signs through the broadcast
    * plane matrix of `Similarity.withSignatures` instead; a null or
    * wrong-length embedding null-poisons the projection, so every bit is 0. */
  def signatureExpr(emb: Column, dim: Int, bits: Int, seed: Long): Column = {
    val planes = Similarity.planesFor(dim, bits, seed)
    (0 until bits).map { b =>
      val proj = aggregate(
        zip_with(emb, lit(planes(b)), (x, p) => x.cast("double") * p),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
