package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Oracle-shaped SQL forms of operators whose production versions are native
  * expressions or typed maps. Each is written the way its DuckDB oracle
  * recomputes it, and the specs pin the production form against it:
  *   - [[asciiTokensViaRegexp]] vs `TextOps.asciiTokens` (TokenExprSpec);
  *   - [[langIdDF]] vs `TextOps.langIdFast` (TextExprSpec) and the row kernel
  *     `TextOps.langId` (OpsSpec);
  *   - [[signatureExpr]] vs `Similarity.withSignatures` (OpsSpec).
  */
object ReferenceForms {

  /** ASCII `[A-Za-z0-9]+` token runs, lowercased; null text → no tokens. */
  def asciiTokensViaRegexp(text: Column): Column =
    transform(
      regexp_extract_all(coalesce(text, lit("")), lit("[A-Za-z0-9]+"), lit(0)),
      x => lower(x))

  /** Column-expression language ID — the same script-range/stopword heuristic
    * as `TextOps.langId` but as integer-exact Catalyst expressions, so a
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
