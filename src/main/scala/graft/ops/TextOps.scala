package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, expressed as
  * Catalyst column functions (codegen'd, no UDFs) wherever the semantics are
  * SQL-expressible so filters/pruning around them stay optimizable; only the
  * genuinely imperative kernels (language ID, fingerprints) are row funcs
  * applied inside typed map stages.
  */
object TextOps {

  /** Whitespace token count; null/empty/blank → 0 (total, per the doc
    * contract). Matches the DuckDB oracle
    * `length(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))`. */
  def tokenCount(text: Column): Column = {
    val t = trim(coalesce(text, lit("")))
    when(length(t) === 0, lit(0)).otherwise(size(split(t, "\\s+")))
  }

  /** ASCII `[A-Za-z0-9]+` token runs, lowercased; null text → no tokens.
    * The shared tokenization for n-gram ops (SegmentOps bigrams, Decontam
    * grams): ASCII-only tokens make `lower` bit-identical between Java and
    * the oracle's RE2/utf8proc, so no locale/Unicode-case drift — keep every
    * consumer on THIS expression so the convention can't fork.
    *
    * Implemented by the native codegen'd [[graft.functions.AsciiTokens]]
    * byte-scan — `transform(regexp_extract_all(...), lower)` is an
    * interpreted higher-order function and was the dominant cost of every
    * window/gram pass; the SQL-shaped form (what the DuckDB oracles
    * recompute) lives in the test tree as `ReferenceForms.asciiTokensViaRegexp`,
    * the reference TokenExprSpec pins the native scan against. */
  def asciiTokens(text: Column): Column =
    graft.functions.TokenFunctions.asciiTokens(coalesce(text, lit("")))

  /** `size(asciiTokens(text))` as one allocation-free native scan. */
  def asciiTokenCount(text: Column): Column =
    graft.functions.TokenFunctions.asciiTokenCount(coalesce(text, lit("")))

  /** 16-byte md5 key over the UTF-8 bytes of a string column — the shared
    * gram/content join-key convention (d02/d22/d27): arbitrary-length text
    * never rides a shuffle, and the encoding is THE thing the DuckDB oracle
    * must agree on, so every consumer (Dedup.exact, Decontam.flagOverlap,
    * Dedup.dupWindowStats) calls this one definition. md5 here is the
    * ORACLE-CHECKABLE convention (DuckDB recomputes it), not an adversarial
    * integrity boundary — state that must survive hostile collision pairs
    * (e.g. the streaming dedup key) uses SHA-256 instead. */
  def md5Key(c: Column): Column = md5(to_binary(c, lit("utf-8")))

  /** Punctuation count (fixed class, ASCII) — codegen regexp. */
  def punctCount(text: Column): Column =
    coalesce(regexp_count(text, lit("[.,!?;:]")), lit(0))

  /** Quality score features: all integer/exact so the oracle compare is
    * stable across engines (no accumulated float error). */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame =
    df.select(
      col("doc_id"),
      length(text).as("n_chars"),
      tokenCount(text).as("n_tokens"),
      punctCount(text).as("n_punct"),
      coalesce(regexp_count(text, lit("[A-Z]")), lit(0)).as("n_upper"),
      coalesce(regexp_count(text, lit("[0-9]")), lit(0)).as("n_digit")
    )

  /** BPE-ish token count: the GPT-2-style pre-tokenizer regex (contraction
    * suffixes, letter runs, digit runs, punctuation runs, whitespace runs),
    * restricted to constructs whose semantics agree between Java regex and
    * RE2 so the DuckDB oracle is bit-identical. Codegen'd — no UDF. */
  val BpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \\t\\n\\r0-9A-Za-z]+|[ \\t\\n\\r]+"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern))

  /** Stopword / word-shape quality counters (integer-exact for the oracle
    * compare; ratios are derived downstream where float drift doesn't
    * matter). Counting uses `regexp_count`, which has identical
    * non-overlapping-match semantics to the oracle's
    * `len(regexp_extract_all(...))` without materializing every match. */
  def qualityScore(df: DataFrame, text: Column): DataFrame =
    df.select(
      col("doc_id").cast("long").as("doc_id"),
      regexp_count(lower(text),
        lit("\\b(?:the|a|and|of|to|is|in|that|it|for)\\b")).as("n_stopwords"),
      regexp_count(text, lit("[A-Za-z]+")).as("n_word_runs"),
      regexp_count(text, lit("[^ \\t\\n\\r]")).as("n_nonspace"))

  /** Gopher-style quality gate as a single integer-arithmetic verdict per
    * document (keep=1/0): enough word runs, some stopwords (English-ish
    * running text), digits bounded to half the visible characters. Integer
    * comparisons only — the oracle compares exactly, no float drift. */
  def qualityFilter(df: DataFrame, text: Column): DataFrame = {
    // total on null text (→ 0, no word runs): the oracle's CASE already
    // maps a NULL condition to 0, so a nullable keep_flag would both break
    // the documented 1/0 contract and diverge from the gate
    val t = coalesce(text, lit(""))
    df.select(
      col("doc_id").cast("long").as("doc_id"),
      (regexp_count(t, lit("[A-Za-z]+")) >= 10 &&
        regexp_count(lower(t),
          lit("\\b(?:the|a|and|of|to|is|in|that|it|for)\\b")) >= 2 &&
        coalesce(regexp_count(t, lit("[0-9]")), lit(0)) * 2 <=
          regexp_count(t, lit("[^ \\t\\n\\r]"))
      ).cast("int").as("keep_flag"))
  }

  /** Unicode NFC normalization stats + text (d25): raw vs normalized
    * codepoint counts and the normalized string itself, via the native
    * codegen'd [[graft.functions.NfcNormalize]] expression. A shrinking
    * `nfc_chars` proves composition actually fired (decomposed sequences
    * collapse to precomposed codepoints). */
  def nfcNormalize(df: DataFrame, text: Column): DataFrame = {
    val n = graft.functions.TextFunctions.nfc(text)
    df.select(
      col("doc_id").cast("long").as("doc_id"),
      length(text).as("raw_chars"),
      length(n).as("nfc_chars"),
      n.as("nfc_text"))
  }

  /** URL canonicalization (d26): dedup key per row via the native codegen'd
    * [[graft.functions.CanonUrl]] expression (lowercased scheme/host, default
    * ports and fragments and tracking params dropped, query params sorted). */
  def canonUrls(df: DataFrame, url: Column): DataFrame =
    df.select(
      col("doc_id").cast("long").as("doc_id"),
      graft.functions.TextFunctions.canonUrl(url).as("url_canon"))

  /** Column language ID — a script-range/stopword heuristic over the first
    * 4000 characters, as (doc_id, n_latin, n_cjk, detected_lang) from ONE
    * native codegen'd scan (`graft_lang_id`). Its oracle-shaped regex twin,
    * `ReferenceForms.langIdDF` in the test tree (itself pinned against the
    * row form `ReferenceForms.langId`), is integer-exact SQL a
    * third-party engine reproduces bit-for-bit: TextExprSpec pins
    * bit-equality on adversarial + seeded-fuzz vectors, and the d08 DuckDB
    * oracle (which mirrors the regex form) gates the native scan. */
  def langIdFast(df: DataFrame, text: Column): DataFrame = {
    val f = graft.functions.TextFunctions.langIdFeatures(text)
    df.select(
      col("doc_id").cast("long").as("doc_id"),
      coalesce(f.getField("n_latin"), lit(0)).as("n_latin"),
      coalesce(f.getField("n_cjk"), lit(0)).as("n_cjk"),
      coalesce(f.getField("lang"), lit("und")).as("detected_lang"))
  }

  // --- imperative kernels (row-level) ---------------------------------------

  /** 64-bit FNV-1a over UTF-8 — the deterministic base hash for fingerprints
    * and shingles (public-domain algorithm). */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // hash UTF-16 code units hi/lo bytes — stable and cheap
      h = (h ^ (c & 0xff)) * 0x100000001b3L
      h = (h ^ ((c >> 8) & 0xff)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** Winnowing oracle witness (d30) — the d28/d29 pattern applied to the
    * fingerprint family: [[fingerprint]] is the fnv-based SCALE path whose
    * hash family an independent engine cannot recompute, so this witness
    * pins the winnowing SEMANTICS (Schleimer et al.: the distinct set of
    * per-window minima over sliding windows of w gram hashes) with an
    * md5 hash family both engines compute bit-identically. Output is the
    * per-document DISTINCT set of window-min hashes — distinct makes the
    * result tie-break-free (whichever position attains a tied min, the
    * selected VALUE set is identical), so no engine-specific argmin rule
    * can drift. Docs with fewer than w full windows emit no rows. A
    * witness query, not the corpus-scale path: per-doc local list ops
    * (interpreted HOFs are fine at witness scale), no corpus Window, the
    * only exchange is the driver dump's orderBy. */
  def fingerprintWitness(docs: DataFrame, n: Int = 3, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && w >= 1, s"n and w must be >= 1, got n=$n w=$w")
    val hs = docs
      .select(col(idCol).cast("long").as("doc_id"),
        asciiTokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        transform(Decontam.tokenNgrams(col("__t"), n), g => md5Key(g)).as("__h"))
    hs.select(col("doc_id"),
        explode(array_distinct(
          when(size(col("__h")) < w, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(col("__h")) - (w - 1)),
              i => array_min(slice(col("__h"), i, lit(w))))))).as("fp"))
  }

  /** Rolling document fingerprint: winnowed min-sampling of token 3-gram
    * hashes (w=8) — robust to local edits (Rabin-Karp / winnowing style). */
  def fingerprint(text: String): Long = {
    val toks = tokenize(text)
    if (toks.isEmpty) return 0L
    var fp = 0L
    val grams = tokenNgramHashes(toks, 3)
    if (grams.isEmpty) return fnv1a64(text)
    // min-sample every window of 8
    var i = 0
    while (i < grams.length) {
      var m = Long.MaxValue
      var j = i
      val e = math.min(grams.length, i + 8)
      while (j < e) { if (grams(j) < m) m = grams(j); j += 1 }
      fp = fp * 31 + m
      i += 8
    }
    fp
  }

  /** Word-level sub-spans of an extracted text: [begin, end) char offsets,
    * CJK codepoints as singleton words — the reference's CTC word-box
    * refinement re-expressed over text offsets
    * (/root/reference/src/oarocr/ocr.rs:862-933,988-995). */
  def wordSpans(text: String): Array[(Int, Int)] = {
    if (text == null) return Array.empty
    val out = Array.newBuilder[(Int, Int)]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else if (graft.score.Classifier.isCjk(c)) { out += ((i, i + 1)); i += 1 }
      else {
        val s = i
        while (i < n && !Character.isWhitespace(text.charAt(i)) &&
          !graft.score.Classifier.isCjk(text.charAt(i))) i += 1
        out += ((s, i))
      }
    }
    out.result()
  }

  def tokenize(text: String): Array[String] = {
    if (text == null) return Array.empty
    val out = Array.newBuilder[String]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      val s = i
      while (i < n && !Character.isWhitespace(text.charAt(i))) i += 1
      if (i > s) out += text.substring(s, i)
    }
    out.result()
  }

  /** Hashes of consecutive token n-grams. */
  def tokenNgramHashes(toks: Array[String], n: Int): Array[Long] = {
    if (toks.length < n) return Array.empty
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) {
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < n) {
        val w = toks(i + k)
        var j = 0
        while (j < w.length) {
          h = (h ^ (w.charAt(j) & 0xffff)) * 0x100000001b3L
          j += 1
        }
        h = (h ^ 0x1f) * 0x100000001b3L // token separator
        k += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  /** Character k-shingle hashes (for minhash). */
  def charShingleHashes(text: String, k: Int): Array[Long] = {
    if (text == null || text.length < k) return Array.empty
    val out = new Array[Long](text.length - k + 1)
    var i = 0
    while (i + k <= text.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + k) {
        h = (h ^ (text.charAt(j) & 0xffff)) * 0x100000001b3L
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }
}
