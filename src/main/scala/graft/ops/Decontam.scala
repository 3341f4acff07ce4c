package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag corpus documents that share a word
  * n-gram with a held-out evaluation set (the GPT-3 appendix-C / Pile
  * procedure: any doc containing a benchmark 13-gram is quarantined).
  * Pure codegen'd column expressions; the benchmark side is DISTINCT'd and
  * broadcast (eval sets are ~1e5 docs — always the small side), so the whole
  * corpus pass is one narrow explode → broadcast-hash left join → per-doc
  * groupBy: exactly ONE corpus-keyed shuffle (the groupBy on doc_id, a
  * unique key with no hot values), and no corpus-to-corpus join anywhere —
  * docs with zero grams survive via `explode_outer`'s null row instead of a
  * join back against the id set.
  *
  * Tokens are the shared [[TextOps.asciiTokens]] convention (Java ≡ RE2, so
  * the DuckDB oracle agrees); the join keys on md5 of the gram (d02
  * precedent: 16-byte keys instead of arbitrary-length gram strings on the
  * wire).
  */
object Decontam {

  /** Space-joined word n-grams of a token array; fewer than n tokens →
    * empty. Implemented by the native codegen'd
    * [[graft.functions.TokenNgrams]] one-pass builder — the historical
    * higher-order-function form (`ReferenceForms.tokenNgramsViaHof`, test
    * tree) is interpreted
    * (CodegenFallback) and additionally re-evaluates any computed expression
    * embedded in the lambda once PER ELEMENT, turning O(tokens) into
    * O(tokens²) per document when handed an unprojected tokenizer (measured
    * 25× on the sf0.1 corpus). The native expression evaluates its child
    * exactly once, so that caller hazard is gone too. */
  def tokenNgrams(toks: Column, n: Int): Column =
    graft.functions.TokenFunctions.tokenNgrams(toks, n)

  /** (doc_id, n_hits, contaminated) per corpus doc: n_hits counts gram
    * OCCURRENCES that appear anywhere in `benchmark`; contaminated = 1 iff
    * any hit. */
  def flagOverlap(corpus: DataFrame, benchmark: DataFrame, n: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def gmd5(g: Column): Column = TextOps.md5Key(g)
    val bench = broadcast(
      benchmark.select(TextOps.asciiTokens(col(textCol)).as("__t"))
        .select(explode(tokenNgrams(col("__t"), n)).as("g"))
        .select(gmd5(col("g")).as("gmd5")).distinct()
        .withColumn("__hit", lit(1)))
    corpus
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.asciiTokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        explode_outer(tokenNgrams(col("__t"), n)).as("g"))
      .select(col("doc_id"),
        when(col("g").isNotNull, gmd5(col("g"))).as("gmd5"))
      .join(bench, Seq("gmd5"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("__hit")).as("n_hits"))
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits") > 0).cast("int").as("contaminated"))
  }
}
