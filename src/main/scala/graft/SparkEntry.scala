package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Page
import graft.spark.{ExtractJob, ParquetFooter}
import graft.ops.{Dedup, Similarity, TextOps}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data ops), with DuckDB oracle SQL wherever
  * the semantics are ANSI-SQL-expressible. Extraction queries run over the
  * deterministic fixture corpus (FIXTURES.md; no SQL oracle possible — the
  * golden byte-identity gate lives in `sbt test`), sized 4× the documents
  * table so they scale with sf.
  */
object SparkEntry {

  private val x13Counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The sf tables, read with their footer schema: no schema-inference job. */
  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    ParquetFooter.read(spark, s"$dir/documents.parquet")
  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    ParquetFooter.read(spark, s"$dir/embeddings.parquet")
  /** Ragged 16-dim embedding slice shared by the d36/d37 witnesses: null at
    * vec_id%37, an 8-dim short row at %41, the first 16 dims otherwise —
    * injected in-query so the kernels' ragged-row guards (sig 0 / excluded)
    * fire on both the Spark and oracle sides. */
  private def raggedSlice16(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).select(
      col("vec_id").cast("long").as("vec_id"),
      when(col("vec_id") % 37 === 0, lit(null).cast("array<float>"))
        .when(col("vec_id") % 41 === 0, expr("slice(embedding, 1, 8)"))
        .otherwise(expr("slice(embedding, 1, 16)")).as("embedding"))
  private def li(spark: SparkSession, dir: String): DataFrame =
    ParquetFooter.read(spark, s"$dir/lineitem.parquet")
  private def ord(spark: SparkSession, dir: String): DataFrame =
    ParquetFooter.read(spark, s"$dir/orders.parquet")
  private def ev(spark: SparkSession, dir: String): DataFrame =
    ParquetFooter.read(spark, s"$dir/events.parquet")
  private def cust(spark: SparkSession, dir: String): DataFrame =
    ParquetFooter.read(spark, s"$dir/customer.parquet")

  /** documents row count per (session, dir), cached — several queries scale
    * their synthetic inputs by it and a count() is a full Spark job. */
  private val docCountCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]
  private def docCount(spark: SparkSession, dir: String): Long =
    docCountCache.getOrElseUpdate((spark, dir), docs(spark, dir).count())

  /** Deterministic fixture pages, 4x the documents row count of the sf. */
  private def fixturePages(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    val n = docCount(spark, dir) * 4
    spark.range(n).as[Long]
      .mapPartitions(_.map(i => fixtures.FixtureGen.fixture(i).page))
  }

  /** One extraction per (session, sf dir), persisted: the x-queries are many
    * consumers of a single pipeline pass (html is projected away before the
    * cache, so only extracted columns are stored). */
  private val extractedCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Dataset[graft.model.ExtractedPage]]
  private def extracted(spark: SparkSession, dir: String) =
    extractedCache.getOrElseUpdate((spark, dir),
      ExtractJob.run(fixturePages(spark, dir)).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Results materialized-and-persisted by a query builder invocation
    * (d04/d07/d24/d27/d38–d42/x15): registered here so harness
    * loops (Bench rounds, long sessions) can release them — without this,
    * every invocation left one persisted result DataFrame behind forever.
    * The long-lived shared caches above (extraction, blocks) are NOT
    * registered: they are meant to survive across queries. */
  private val ownedCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def owned(df: DataFrame): DataFrame = ownedCaches.synchronized {
    ownedCaches += df
    df
  }

  /** Unpersist every builder-owned materialized result registered since the
    * last call. Call between bench rounds / after consuming owned query
    * results in a long-lived session. */
  def releaseOwnedCaches(): Unit = ownedCaches.synchronized {
    ownedCaches.foreach(_.unpersist(false))
    ownedCaches.clear()
  }

  /** `base` (its first column the id) with `n_neardups`: the number of
    * `pairs` rows whose first or second column holds the row's id, 0 for
    * none. One explode reads each pair once, so a lazy pair set's plan runs
    * once. */
  private[graft] def withNearDups(base: DataFrame, pairs: DataFrame): DataFrame = {
    val id = base.columns.head
    val Array(a, b) = pairs.columns.take(2)
    val perId = pairs.select(explode(array(col(a), col(b))).as(id))
      .groupBy(id).agg(count(lit(1)).as("n_neardups"))
    base.join(perId, Seq(id), "left")
      .select(base.columns.map(col) :+ coalesce(col("n_neardups"), lit(0L)).as("n_neardups"): _*)
  }

  /** Cached (url, block) rows — the detection-stage debug surface shared by
    * x03/x06. */
  private val blocksCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]
  private def blocks(spark: SparkSession, dir: String): DataFrame =
    blocksCache.getOrElseUpdate((spark, dir), {
      import spark.implicits._
      fixturePages(spark, dir)
        .flatMap(p => Extractor.debugBlocks(p).map(b => (p.url, b)))
        .toDF("url", "block")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Flagship: full extraction pipeline on the smoke corpus. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = spark.range(200).as[Long]
      .mapPartitions(_.map(i => fixtures.FixtureGen.fixture(i).page))
    ExtractJob.run(pages)
      .select(col("url"), col("lang"), col("isPdf"),
        length(col("text")).as("text_len"), size(col("spans")).as("n_spans"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction pipeline (golden-oracle'd in sbt test; rows-only here) --
    "x01_extract" -> ((s, d) =>
      extracted(s, d).select(
        col("url"), col("lang"), col("isPdf").as("is_pdf"),
        col("nBlocks").as("n_blocks"), col("nKept").as("n_kept"),
        length(col("text")).as("text_len"),
        sha2(to_binary(col("text"), lit("utf-8")), 256).as("text_sha256"),
        size(col("spans")).as("n_spans"))),
    "x02_spans" -> ((s, d) =>
      extracted(s, d).select(col("url"), posexplode(col("spans")).as(Seq("pos", "span")))
        .select(col("url"), col("pos"), col("span.blockIdx").as("block_idx"),
          col("span.beginByte").as("begin_byte"), col("span.endByte").as("end_byte"),
          col("span.kind"))),
    "x03_blocks" -> ((s, d) =>
      blocks(s, d).select(col("url"), col("block.idx").as("idx"),
        col("block.tag").as("tag"), col("block.kind").as("kind"),
        col("block.level").as("level"), col("block.chars").as("chars"),
        col("block.anchorChars").as("anchor_chars"), col("block.keep").as("keep"))),
    "x04_charset" -> ((s, d) => {
      import s.implicits._
      fixturePages(s, d).map { p =>
        val dec = html.Charset.sniff(if (p.html == null) Array.emptyByteArray else p.html)
        (p.url, dec.charset.name(), dec.declared, pdf.PdfParser.isPdf(p.html))
      }.toDF("url", "charset", "declared", "is_pdf")
    }),
    "x05_pdf_pages" -> ((s, d) => {
      val pdfs = extracted(s, d).filter(col("isPdf"))
      val pages = pdfs
        .select(col("url"), posexplode(split(col("text"), java.util.regex.Pattern.quote(pdf.PdfParser.PageBreak))).as(Seq("page_idx", "page_text")))
      // formulas counted from the TYPED span surface (kind = pdf_formula or
      // its decoded-offset-space variant pdf_formula_dec, blockIdx = page
      // index) — a regex over the rendered text would miscount when body
      // text legitimately contains $$
      val formulas = pdfs
        .select(col("url"), explode(col("spans")).as("span"))
        .filter(col("span.kind").isin("pdf_formula", "pdf_formula_dec"))
        .groupBy(col("url"), col("span.blockIdx").as("page_idx"))
        .agg(count(lit(1)).as("nf"))
      pages.join(formulas, Seq("url", "page_idx"), "left")
        .select(col("url"), col("page_idx"), length(col("page_text")).as("page_len"),
          coalesce(col("nf"), lit(0L)).cast("int").as("n_formulas"),
          sha2(to_binary(col("page_text"), lit("utf-8")), 256).as("page_sha256"))
    }),
    "x06_titles" -> ((s, d) => {
      import s.implicits._
      blocks(s, d).filter(col("block.kind") === "title" && col("block.keep"))
        .select(col("url"), col("block")).as[(String, graft.model.Block)]
        .map { case (url, b) => (url, b.idx, b.level, assemble.TitleLevel.resolve(b.text, b.level), b.text) }
        .toDF("url", "idx", "tag_level", "render_level", "text")
    }),
    "x07_tables" -> ((s, d) => {
      import s.implicits._
      fixturePages(s, d).flatMap { p =>
        Extractor.debugTables(p).map { case (idx, nCells, html) =>
          (p.url, idx, nCells, html.length)
        }
      }.toDF("url", "block_idx", "n_cells", "html_len")
    }),
    "x08_dedup_extracted" -> ((s, d) =>
      Dedup.exact(extracted(s, d).filter(length(col("text")) > 0).toDF(), "text", "url")
        .withColumnRenamed("canonical_id", "canonical_url")),
    "x09_word_spans" -> ((s, d) => {
      import s.implicits._
      extracted(s, d).select(col("url"), col("text")).as[(String, String)]
        .flatMap { case (url, t) =>
          TextOps.wordSpans(t).iterator.zipWithIndex.map { case ((b, e), i) => (url, i, b, e) }
        }.toDF("url", "word_idx", "begin_char", "end_char")
    }),
    "x11_figures" -> ((s, d) => {
      import s.implicits._
      // harvested figure/caption/formula blocks (markdown-parity surface)
      blocks(s, d).filter(col("block.kind").isin("figure", "caption", "formula"))
        .select(col("url"), col("block.idx").as("idx"), col("block.kind").as("kind"),
          col("block.keep").as("keep"), col("block.text").as("text"))
    }),
    "x12_renders" -> ((s, d) => {
      import s.implicits._
      // semantic-HTML + JSON output surfaces (reference to_html/to_json)
      fixturePages(s, d).flatMap { p =>
        Extractor.renders(p).map { case (h, j) => (p.url, h.length, j.length) }.iterator
      }.toDF("url", "html_len", "json_len")
        .withColumn("html_len", col("html_len").cast("long"))
        .withColumn("json_len", col("json_len").cast("long"))
    }),
    "x10_profile_listing" -> ((s, d) => {
      import s.implicits._
      // alternate scoring profile (reference's per-class config switch):
      // listings keep link-heavy blocks that the article profile drops
      fixturePages(s, d).flatMap { p =>
        val raw = if (p.html == null) Array.emptyByteArray else p.html
        if (pdf.PdfParser.isPdf(raw)) Iterator.empty
        else {
          val (buf, cs) = html.Charset.normalize(raw, html.Charset.sniff(raw))
          val raws = html.BlockBuilder.build(buf, cs)
          val art = score.Classifier.classify(raws, score.Classifier.Article)
          val lst = score.Classifier.classify(raws, score.Classifier.Listing)
          Iterator.single((p.url, art.count(_.keep), lst.count(_.keep)))
        }
      }.toDF("url", "kept_article", "kept_listing")
    }),

    // ---- multimodal binary columns (stubbed decode, real plumbing) ---------
    "m01_media_meta" -> ((s, d) => {
      import s.implicits._
      val n = docCount(s, d) * 2
      s.range(n).as[Long].map(id => (id, fixtures.FixtureGen.media(id))).toDF("media_id", "payload")
        .transform(df => ops.Multimodal.mediaMetaDF(s, df))
    }),
    // m03: multimodal ORACLE WITNESS — the m01 container parsers run over
    // arithmetic-parameterized payloads (every header field a pure integer
    // function of media_id, no PRNG), so DuckDB reconstructs the planted
    // truth for every parsed field without touching a byte — the
    // planted-truth witness pattern (d26/d28) extended to the media family.
    "m03_media_witness" -> ((s, d) => {
      import s.implicits._
      val n = docCount(s, d) * 2
      s.range(n).as[Long]
        .map(id => (id, fixtures.FixtureGen.mediaWitness(id)))
        .toDF("media_id", "payload")
        .transform(df => ops.Multimodal.mediaMetaDF(s, df))
        .orderBy("media_id")
    }),
    "m02_media_ann" -> ((s, d) => {
      import s.implicits._
      val n = docCount(s, d) * 2
      val media = s.range(n).as[Long].map(id => (id, fixtures.FixtureGen.media(id))).toDF("media_id", "payload")
      val embedded = ops.Multimodal.embedDF(s, media)
      Similarity.bruteForceTopK(embedded, 0L until 5L, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    }),

    // ---- text analysis over documents (DuckDB-oracle'd) --------------------
    "d01_text_stats" -> ((s, d) =>
      TextOps.qualityFeatures(docs(s, d), col("text")).orderBy("doc_id")),
    "d02_dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d))),
    "d03_ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(emb(s, d), 0L until 10L, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))),
    "d04_embed_neardup" -> ((s, d) =>
      owned(Similarity.nearDupPairs(emb(s, d), 0.45))),
    "d05_minhash" -> ((s, d) =>
      withNearDups(docs(s, d).select(col("doc_id").cast("long").as("doc_id")),
        Dedup.minhashPairs(s, docs(s, d), threshold = 0.7))),
    "d06_simhash" -> ((s, d) => {
      import s.implicits._
      // signature surface + the banded pair path (Manku tables) in one query;
      // both signature passes read the same spread projection, so its
      // exchange runs once (a ReusedExchange)
      val sigs = graft.ops.spread(docs(s, d).select(col("doc_id").cast("long"), col("text")), "doc_id")
        .as[(Long, String)]
        .map { case (id, t) => (id, Dedup.simhash(t)) }
        .toDF("doc_id", "simhash_sig")
      withNearDups(sigs, Dedup.simhashPairs(s, docs(s, d), maxHamming = 3))
    }),
    "d07_ngram_jaccard" -> ((s, d) =>
      withNearDups(docs(s, d).select(col("doc_id").cast("long").as("doc_id")),
        owned(Dedup.ngramJaccardPairs(s, docs(s, d), threshold = 0.5)))),
    "d08_lang_id" -> ((s, d) =>
      // native one-pass graft_lang_id scan; the regex form
      // (ReferenceForms.langIdDF, test tree) is the oracle-shaped reference
      // (TextExprSpec pins bit-equality, this DuckDB oracle gates the swap)
      TextOps.langIdFast(docs(s, d), col("text")).orderBy("doc_id")),
    "d09_fingerprint" -> ((s, d) => {
      import s.implicits._
      docs(s, d).select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, TextOps.fingerprint(t)) }
        .toDF("doc_id", "fingerprint")
    }),
    "d10_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(emb(s, d), 0L until 10L, dim = 64, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))),
    "d13_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), 0L until 10L, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))),
    "d11_token_bpe" -> ((s, d) =>
      docs(s, d).select(col("doc_id").cast("long").as("doc_id"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens")).orderBy("doc_id")),
    "d12_quality" -> ((s, d) =>
      TextOps.qualityScore(docs(s, d), col("text")).orderBy("doc_id")),
    "d14_quality_filter" -> ((s, d) =>
      TextOps.qualityFilter(docs(s, d), col("text")).orderBy("doc_id")),
    // d16-d18: segment-level dedup + repetition (C4 line dedup / Gopher
    // repetition signals). The synthetic documents are single-line word
    // soup, so the driver queries exercise WORD granularity (delim " ",
    // which this corpus makes maximally non-trivial: near-every segment is
    // duplicated corpus-wide); newline/paragraph granularity is covered by
    // planted-truth unit vectors in SegmentOpsSpec.
    "d16_seg_dedup" -> ((s, d) =>
      ops.SegmentOps.segmentDedup(docs(s, d), delim = " ", minChars = 3)
        .orderBy("doc_id")),
    "d17_rep_segments" -> ((s, d) =>
      ops.SegmentOps.repetitionSignals(docs(s, d), delim = " ")
        .orderBy("doc_id")),
    "d18_top_bigram" -> ((s, d) =>
      ops.SegmentOps.topBigram(docs(s, d)).orderBy("doc_id")),
    // d19/d20: corpus-curation sampling — per-domain quota (bounded-heap
    // two-phase top-k, no corpus window) and deterministic md5 hash split
    "d19_source_quota" -> ((s, d) =>
      ops.Sampling.sourceQuota(docs(s, d), k = 10)
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
        .orderBy("doc_id")),
    "d20_hash_sample" -> ((s, d) =>
      ops.Sampling.hashSample(docs(s, d), keepNibbles = 8)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")),
    // d32: GROUP-level deterministic split — keyed on `source` instead of
    // doc_id, so every document of a source lands in the same split
    // (train/eval leakage hygiene: near-dups concentrate within a source,
    // and a per-doc split would put one copy in train and one in eval).
    // Same operator as d20, different key column; narrow, no exchange.
    "d32_host_split" -> ((s, d) =>
      ops.Sampling.hashSample(docs(s, d), keepNibbles = 8, idCol = "source")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
        .orderBy("doc_id")),
    // d33: incremental-crawl dedup — "seen" = first 70% of doc_ids (the
    // historical corpus), "batch" = last 60% (today's crawl: the middle 30%
    // of the corpus re-crawled unchanged + the last 30% genuinely new).
    // Content-keyed (md5); the Bloom prefilter is built over the batch and
    // applied to the seen side (runtime-filter direction), then an exact
    // anti-join confirms — the result is exactly the never-seen rows.
    "d33_incremental" -> ((s, d) => {
      val n = docCount(s, d)
      val keyed = docs(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.md5Key(col("text")).as("content_md5"))
      val seen = keyed.filter(col("doc_id") < lit((n * 7) / 10))
      val batch = keyed.filter(col("doc_id") >= lit((n * 4) / 10))
      Dedup.incrementalNew(batch, seen, "content_md5",
          expectedBatchKeys = n - (n * 4) / 10)
        .select(col("doc_id"), col("content_md5"), col("source"))
        .orderBy("doc_id")
    }),
    // d21: PII scrub. The synthetic corpus carries no PII, so the query
    // injects a deterministic email/IP/phone per row IN the query (same
    // expression in the oracle SQL) — the redaction paths actually fire
    "d21_pii_scrub" -> ((s, d) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"),
        lit(" call +1415555"),
        (col("doc_id") % 9000 + 1000).cast("string"))
      ops.Pii.scrub(docs(s, d), injected).orderBy("doc_id")
    }),
    // d22: benchmark decontamination (GPT-3/Pile n-gram overlap). The
    // benchmark set is the first five docs; n=3 because the synthetic
    // word-soup vocabulary (~30 words) makes trigram overlap informative
    // across the whole corpus (real pipelines use n=8..13 — a parameter)
    "d22_decontaminate" -> ((s, d) =>
      ops.Decontam.flagOverlap(docs(s, d),
        docs(s, d).filter(col("doc_id") < 5), n = 3)
        .orderBy("doc_id")),
    // d23: concatenate-and-chunk sequence packing at 512 tokens — the
    // distributed prefix-sum path (the oracle's global window cumsum is
    // exactly the single-task plan the operator exists to avoid)
    "d23_seq_pack" -> ((s, d) =>
      ops.Packing.packSequences(docs(s, d), budget = 512)
        .orderBy("doc_id")),
    // d24: connected components over a deterministic dedup-pair edge set
    // (chains 10k—10k+1—10k+2—10k+3 per decade of ids; the rest singletons)
    // — the cluster-assignment step that turns near-dup PAIRS into one
    // keeper per duplicate cluster. Oracled by a DuckDB recursive CTE.
    "d24_components" -> ((s, d) => {
      val n = docCount(s, d)
      val pairs = docs(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 10 < 3 && col("doc_id") + 1 < n)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      owned(Dedup.connectedComponents(docs(s, d), pairs)).orderBy("doc_id")
    }),
    // d25: Unicode NFC normalization (native codegen'd expression, oracled
    // by DuckDB nfc_normalize). The corpus may already be NFC, so the query
    // appends deterministic decomposed sequences IN the query (d21
    // precedent): "e"+U+0301 must compose to é and "A"+U+030A+U+0301 must
    // double-compose to Ǻ, so nfc_chars < raw_chars on every row.
    "d25_nfc_norm" -> ((s, d) => {
      val messy = concat(col("text"),
        lit(" cafe\u0301 A\u030A\u0301"))
      ops.TextOps.nfcNormalize(docs(s, d), messy).orderBy("doc_id")
    }),
    // d26: URL canonicalization (native codegen'd expression; planted-truth
    // oracle — DuckDB constructs the expected canonical directly). The messy
    // URL exercises scheme/host case, FQDN trailing dot, default vs
    // non-default port, utm_ stripping, param sorting, and the fragment.
    "d26_url_canon" -> ((s, d) => {
      val messy = concat(
        lit("HTTP://WWW.Site"), (col("doc_id") % 5).cast("string"),
        lit(".Example.COM.:"),
        when(col("doc_id") % 2 === 0, lit("80")).otherwise(lit("8080")),
        lit("/Path/"), col("doc_id").cast("string"),
        lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"),
        lit("&a=1#sec"))
      ops.TextOps.canonUrls(docs(s, d), messy).orderBy("doc_id")
    }),
    // d35: stratified mixture sampling — down-weight the over-represented
    // languages (en to 50%, zh to 25%) to rebalance the corpus mix; other
    // langs keep everything. Same md5 determinism as d20, 4-nibble
    // granularity, nested kept-sets across rate changes. Narrow, no
    // exchange.
    "d35_mix_sample" -> ((s, d) =>
      ops.Sampling.stratifiedSample(docs(s, d),
          Map("en" -> 0.5, "zh" -> 0.25))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .orderBy("doc_id")),
    // d34: canonical-URL dedup — the CDX-style frontier/index dedup every
    // crawl runs: canonicalize, group, keep one representative per
    // canonical URL. Two messy variants per target (uppercase scheme/host +
    // trailing host dot + default :80 + utm param + fragment on even ids;
    // already-clean on odd ids) collapse to doc_id%50 targets on doc_id%5
    // hosts — 50 groups of 10 aliases at sf0.01. Composition of two audited
    // operators: the native codegen'd canonicalizer (d26) + the exact-dedup
    // hash groupBy (d02 shape) — one shuffle, map-side combine.
    "d34_url_dedup" -> ((s, d) => {
      val messy = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://WWW.Site"))
          .otherwise(lit("http://www.site")),
        (col("doc_id") % 5).cast("string"),
        when(col("doc_id") % 2 === 0, lit(".Example.COM.:80"))
          .otherwise(lit(".example.com")),
        lit("/Page/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed&x=1#sec"))
          .otherwise(lit("?x=1")))
      docs(s, d)
        .select(col("doc_id"),
          graft.functions.TextFunctions.canonUrl(messy).as("url_canon"))
        .groupBy(col("url_canon"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_aliases"))
        .orderBy("canonical_id")
    }),
    // d36: LSH-signature oracle witness — the production broadcast-plane
    // signature kernel (withSignatures, the exact code d10/d15 bucket on)
    // over a 16-dim slice at 12 bits, against a DuckDB oracle that
    // re-derives each bit from the SAME plane constants embedded as SQL
    // literals: sign of an index-order double dot product, bit b -> 2^b.
    // Ragged rows (see raggedSlice16) exercise the sig-0 guard. Narrow
    // map over a broadcast plane matrix, no exchange.
    "d36_lsh_witness" -> ((s, d) => {
      Similarity.withSignatures(raggedSlice16(s, d), 16, 12, Seq(42L))
        .select(col("vec_id"), col("buckets").getItem(0).as("sig"))
        .orderBy("vec_id")
    }),
    // d37: IVF-assignment oracle witness — the production nearestCell
    // kernel (the narrow map d13 assigns the corpus with) against 8
    // deterministic 16-dim centroids, vs a DuckDB oracle computing the
    // same argmin of squared L2 from the same centroid literals
    // (index-order double accumulation, lowest index on ties). Ragged
    // rows (see raggedSlice16) are excluded exactly as d13 excludes them.
    "d37_ivf_witness" -> ((s, d) => {
      Similarity.ivfAssignWitness(raggedSlice16(s, d),
          Similarity.planesFor(16, 8, 7L))
        .orderBy("vec_id")
    }),
    // d38: DSIR importance weights (Xie et al. 2023) — every document
    // scored by the log-likelihood ratio of its hashed-unigram bag under a
    // target model (here: the doc_id%7 slice standing in for the quality
    // corpus) vs the raw-corpus model, in exact integer micro-units (the
    // per-bucket log-ratio is the single rounding point, so the DuckDB
    // oracle reproduces every weight bit-exactly).
    "d38_dsir_weights" -> ((s, d) => {
      val all = docs(s, d)
      owned(ops.Sampling.dsirWeights(all, all.filter(col("doc_id") % 7 === 0)))
        .orderBy("doc_id")
    }),
    // d39: DSIR end-to-end — Gumbel-top-k resampling over the d38 weights
    // (select 100 docs without replacement ∝ exp(weight)). The Gumbel draw
    // is md5-seeded and fixed-point, so the selected SET is engine-exact;
    // the plan is TakeOrderedAndProject (bounded per-partition top-k), no
    // global sort.
    "d39_dsir_sample" -> ((s, d) => {
      val all = docs(s, d)
      val w = owned(ops.Sampling.dsirWeights(all, all.filter(col("doc_id") % 7 === 0)))
      ops.Sampling.gumbelTopK(w, k = 100)
        .orderBy(col("key_micros").desc, col("doc_id"))
    }),
    // d40: CCNet-style perplexity score — average token NLL under the
    // hashed-unigram LM estimated from the corpus itself (self-perplexity:
    // low = stereotypical/repetitive text, high = off-distribution). The
    // quality gate "keep the low-ppl head/middle" is one filter away.
    "d40_unigram_ppl" -> ((s, d) => {
      val all = docs(s, d)
      owned(ops.Sampling.unigramNll(all, all)).orderBy("doc_id")
    }),
    // d41: SemDeDup (Abbas et al. 2023) — semantic dedup over the d36/d37
    // 16-dim witness slice with the same 8 deterministic centroids d37
    // assigns against: nearest-centroid cells, then ONE cell-keyed shuffle
    // into per-cell tasks that build the cosine ε-graph at 0.7 (57 edges
    // over 474 eligible rows at sf0.01), its duplicate groups (union-find),
    // and the lowest-centroid-cosine keep rule locally. Every decision is
    // index-order double arithmetic, so the DuckDB oracle (same centroid
    // literals, recursive-CTE components, row_number keep rule) reproduces
    // (cell, component, keep) bit-exactly.
    "d41_semdedup" -> ((s, d) =>
      owned(Similarity.semDedup(raggedSlice16(s, d),
          Similarity.planesFor(16, 8, 7L), threshold = 0.7))
        .orderBy("vec_id")),
    // d43: top-k corpus vocabulary — the tokenizer-training audit pass:
    // token-keyed aggregate (vocabulary-sized exchange, map-side combine)
    // with doc frequency, topped by TakeOrderedAndProject on the total
    // (n_occurrences DESC, token) order — k rows cross to the driver.
    "d43_vocab" -> ((s, d) =>
      ops.CorpusStats.topTokens(docs(s, d), k = 200)),
    // d44: token-length histogram — floor(log2(n_tokens)) buckets (−1 =
    // empty) via integer bit-length, so both engines bucket bit-exactly;
    // narrow native token-count scan into a ≤ ~64-row aggregate.
    "d44_len_hist" -> ((s, d) =>
      ops.CorpusStats.lengthHistogram(docs(s, d)).orderBy("log2_tokens")),
    // d45: UT1-style domain blocklist filter (the RefinedWeb/FineWeb URL
    // filtering stage). Hosts are synthesized from `source` in-query (cdn.
    // subdomains on doc_id % 7) so suffix matching actually fires; the
    // blocklist literal carries an overlapping cdn.src2/src2 pair, so
    // most-specific-wins is exercised on real rows. Plan: zero corpus
    // exchanges — one broadcast LEFT join per suffix level (PlanCheck).
    "d45_blocklist" -> ((s, d) => {
      import s.implicits._
      val rawHost = when(col("doc_id") % 7 === 0,
        concat(lit("cdn."), col("source"), lit(".example.com")))
        .otherwise(concat(col("source"), lit(".example.com")))
      // every 11th host arrives as an UPPERCASED root-dotted FQDN and must
      // still match — exercises the operator's DNS normalization
      val hosts = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(upper(rawHost), lit(".")))
          .otherwise(rawHost).as("host"))
      val bl = Seq(
        ("src1.example.com", "adult"),
        ("src2.example.com", "tracking"),
        ("cdn.src2.example.com", "ads"),
        ("src4.example.com", "gambling")).toDF("host", "category")
      ops.WebFilters.blocklistFilter(hosts, bl)
        .select(col("doc_id"), col("host"),
          col("block_category"), col("blocked"))
        .orderBy("doc_id")
    }),
    // d46: RefinedWeb-style line-wise correction. The synthetic docs are
    // single-line, so boilerplate is injected in-query (same expression in
    // the oracle): a nav bar, a social counter, and on doc_id % 4 == 0
    // enough chrome that the >50%-removed verdict actually drops documents.
    "d46_line_fix" -> ((s, d) => {
      // the "Sign in\r" line exercises CRLF handling through the gate: the
      // \r must be stripped before the anchored nav match on both engines
      val injected = concat(
        lit("HOME | ABOUT | CONTACT\n"),
        coalesce(col("text"), lit("")),
        lit("\n"), (col("doc_id") % 50).cast("string"), lit(" comments"),
        when(col("doc_id") % 4 === 0,
          lit("\nSign in\r\nRead more\nSUBSCRIBE NOW TODAY"))
          .otherwise(lit("\nA perfectly ordinary closing line.")))
      ops.WebFilters.lineFix(
          docs(s, d).select(col("doc_id"), injected.as("text")))
        .orderBy("doc_id")
    }),
    // d42: exact-substring REMOVAL (Lee et al. 2022) — the cleaning pass
    // that completes d27's counting: every duplicated 8-token window is
    // removed from every doc except the gram's first (lowest doc_id, pos)
    // occurrence; a token is dropped iff any non-owner duplicated window
    // covers it. Output is the cleaned normalized-token stream.
    "d42_dup_removal" -> ((s, d) =>
      owned(Dedup.removeDupWindows(docs(s, d), n = 8)).orderBy("doc_id")),
    // d27: duplicate-window stats — the counting pass of exact substring
    // dedup (Lee et al. 2022): sliding 8-token windows flagged when their
    // gram occurs >= 2 times corpus-wide (n=8 because the synthetic docs
    // are short; production uses ~50). At sf0.01 this yields a spread:
    // ~47 docs with duplicated windows, the exact-dup pairs at 100%.
    "d27_dup_windows" -> ((s, d) =>
      owned(Dedup.dupWindowStats(docs(s, d), n = 8)).orderBy("doc_id")),
    // d28: minhash ORACLE WITNESS — signature position j = min over char-5
    // shingles of md5("j:"+shingle), replicated exactly in DuckDB. Pins the
    // min-over-hash-family semantics the production d05 path (JVM affine
    // permutations) can't expose to a SQL oracle. Witness-only economics:
    // 16 md5 passes per shingle are ~10x the production cost, so the query
    // runs on the deterministic doc_id%10 slice (50 docs at sf0.01 — the
    // semantics pin doesn't need the whole corpus; 17s -> 1.7s at sf0.1).
    "d28_minhash_witness" -> ((s, d) =>
      Dedup.minhashSignaturesWitness(
          docs(s, d).filter(col("doc_id") % 10 === 0),
          numHashes = 16, shingleK = 5)
        .orderBy("doc_id", "hash_idx")),
    // d29: simhash ORACLE WITNESS — per-bit majority over md5-60-bit token
    // hashes, replicated exactly in DuckDB (pins the semantics the fnv1a64
    // production d06 path can't expose to a SQL oracle)
    "d29_simhash_witness" -> ((s, d) =>
      Dedup.simhashWitness(docs(s, d)).orderBy("doc_id")),
    // d30: winnowing ORACLE WITNESS — the distinct per-document set of
    // window-min md5 gram hashes, replicated exactly in DuckDB (pins the
    // Schleimer-et-al window-min semantics the fnv-based production d09
    // fingerprint can't expose to a SQL oracle). Same witness-slice
    // economics as d28: the semantics pin doesn't need the whole corpus.
    "d30_winnow_witness" -> ((s, d) =>
      ops.TextOps.fingerprintWitness(
          docs(s, d).filter(col("doc_id") % 10 === 0), n = 3, w = 4)
        .orderBy("doc_id", "fp")),
    // d31: Jaccard ORACLE WITNESS — exact set-overlap over md5 gram keys,
    // all pairs sharing >= 1 gram on a witness slice, replicated exactly in
    // DuckDB (pins the semantics the fnv-keyed production d07 path can't
    // expose to a SQL oracle). The slice bounds the quadratic gram
    // self-join that the production operator df-caps away.
    "d31_jaccard_witness" -> ((s, d) =>
      Dedup.jaccardWitness(
          docs(s, d).filter(col("doc_id") % 10 === 0), n = 3)
        .orderBy("doc_a", "doc_b")),
    "d15_neardup_lsh" -> ((s, d) =>
      // the 1e12-row near-dup path: LSH OR-construction candidates + exact
      // cosine verify (no O(n^2) product anywhere)
      withNearDups(emb(s, d).select(col("vec_id").cast("long").as("vec_id")),
        Similarity.nearDupPairsLsh(emb(s, d), 0.45, dim = 64))),
    "x13_stream_extract" -> ((s, d) => {
      // the streaming surface through the driver gate: a bounded MemoryStream
      // runs the SAME kernel via ExtractJob.run into a memory sink; results
      // must match the batch extraction bytes. The stream carries ROW IDS
      // only — pages are generated inside the stream map on executors, so the
      // task binary stays small (the page-valued stream shipped ~8.6 MiB of
      // corpus in every task binary).
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val n = math.min(docCount(s, d), 500L)
      stream.addData(0L until n)
      val sink = "x13_sink_" + x13Counter.incrementAndGet()
      val pages = stream.toDS().map(i => fixtures.FixtureGen.fixture(i).page)
      val q = ExtractJob.run(pages)
        .select(col("url"), length(col("text")).as("text_len"),
          sha2(to_binary(col("text"), lit("utf-8")), 256).as("text_sha256"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally q.stop() // never leak a running StreamingQuery on failure
      s.table(sink).orderBy("url")
    }),
    "x14_stream_dedup" -> ((s, d) => {
      // streaming stateful dedup (flatMapGroupsWithState) through the driver
      // gate: batch 1 delivers n distinct pages, batch 2 redelivers ALL of
      // them (cross-batch duplicates — state must survive the batch
      // boundary) plus 50 new ones; the sink must hold exactly one row per
      // distinct content key
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val n = math.min(docCount(s, d), 300L)
      val sink = "x14_sink_" + x13Counter.incrementAndGet()
      val pages = stream.toDS().map(i => fixtures.FixtureGen.fixture(i).page)
      val q = graft.streaming.StreamExtract
        .dedupStream(ExtractJob.run(pages))
        .select(col("url"), length(col("text")).as("text_len"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        stream.addData(0L until n)
        q.processAllAvailable()
        stream.addData((0L until n) ++ (n until n + 50L)) // dups + fresh
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink).orderBy("url")
    }),

    "x15_curation" -> ((s, d) => {
      // end-to-end curation chain over the EXTRACTION surface — the shape a
      // real 100 TB run takes: extract → drop error/empty rows → exact
      // dedup (canonical per content) → near-dup cull (drop docs whose
      // 8-token windows are >= 75% duplicated corpus-wide: template/
      // boilerplate-heavy survivors of exact dedup) → per-host quota
      // (zipf-hot fixture domains actually hit the cap) → deterministic
      // hash split. Fixture corpus, so rows-only at the driver; every stage
      // is individually oracled/golden-gated elsewhere (x01, d02/x08, d27,
      // d19, d20).
      val ex = extracted(s, d)
        .filter(col("error") === "" && length(col("text")) > 0).toDF()
      val canon = Dedup.exact(ex, "text", "url")
        .select(col("canonical_id").cast("string").as("url"))
      // kept is consumed by FOUR downstream branches (dupWindowStats'
      // count + key passes, the cull join's left side, and sourceQuota's
      // two passes over clean); without a persist each one re-runs the
      // exact-dedup md5 aggregate + semi-join over the full text corpus.
      // Registered as builder-owned so Bench/long sessions release it.
      val kept = owned(ex.join(canon, Seq("url"), "left_semi")
        .withColumn("host", regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))
        .withColumn("uid", xxhash64(col("url")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // native xx64 window keys, not md5 gram strings: this stage never
      // meets the DuckDB oracle (d27 does, with the md5 default), and long
      // keys make the gram-keyed exchange ~4x lighter at identical cull
      // decisions.
      val dw = owned(Dedup.dupWindowStats(kept, n = 8,
        textCol = "text", idCol = "uid", oracleKeys = false))
      val clean = kept.join(
        dw.filter(col("dup_pct") < 75).select(col("doc_id").as("uid")),
        Seq("uid"), "left_semi")
      val quota = ops.Sampling.sourceQuota(clean, k = 25,
        keyCol = "host", idCol = "uid")
      ops.Sampling.hashSample(quota, keepNibbles = 12, idCol = "uid")
        .select(col("url"), col("host"), col("lang"),
          length(col("text")).as("text_len"))
        .orderBy("url")
    }),

    // ---- relational shell (DuckDB-oracle'd) --------------------------------
    "r01_agg" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("bigint")).as("revenue_cents"))
        .orderBy("l_returnflag", "l_linestatus")),
    "r02_join_agg" -> ((s, d) =>
      li(s, d).join(broadcast(ord(s, d)), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"))
        .orderBy("o_orderpriority")),
    "r03_window" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord(s, d).withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("int").as("rn"))
    }),
    "r05_rollup" -> ((s, d) =>
      // hierarchical aggregation (rollup): subtotal rows use 'ALL' sentinels
      // instead of NULL group keys so the oracle hash is representation-stable
      li(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")),
    "r06_anti_join" -> ((s, d) =>
      // customers with no URGENT orders: broadcast left-anti (the small side
      // is the filtered key projection; the filter pushes into the scan)
      cust(s, d).join(
          broadcast(ord(s, d).filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey"))),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy("c_custkey")),
    "r04_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).cast("bigint").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    })
  )

  /** Shared DSIR model-estimation CTE chain (d38/d39 oracles): tokens →
    * md5 buckets → per-(doc,bucket) counts → both smoothed unigram models →
    * per-bucket log-ratio micros. One definition so the two oracles cannot
    * drift apart on the weight semantics. */
  private val dsirWeightCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_transform(
      |    regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x))) AS t
      |  FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 256 AS bkt
      |  FROM toks),
      |db AS (SELECT doc_id, bkt, count(*) AS c FROM b GROUP BY 1, 2),
      |rc AS (SELECT bkt, sum(c) AS cr FROM db GROUP BY 1),
      |tc AS (SELECT bkt, sum(c) AS ct FROM db WHERE doc_id % 7 = 0 GROUP BY 1),
      |tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM db) AS tr,
      |               (SELECT coalesce(sum(c), 0) FROM db WHERE doc_id % 7 = 0) AS tt),
      |lr AS (
      |  SELECT rc.bkt,
      |    CAST(round(1e6 * (ln((coalesce(tc.ct, 0) + 1.0) / (tot.tt + 256.0))
      |                    - ln((rc.cr + 1.0) / (tot.tr + 256.0)))) AS BIGINT)
      |      AS lr_micros
      |  FROM rc LEFT JOIN tc ON rc.bkt = tc.bkt CROSS JOIN tot)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "d01_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |       ELSE CAST(length(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) END AS n_tokens,
        |  CAST(length(regexp_extract_all(text, '[.,!?;:]')) AS INTEGER) AS n_punct,
        |  CAST(length(regexp_extract_all(text, '[A-Z]')) AS INTEGER) AS n_upper,
        |  CAST(length(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS n_digit
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d02_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "d03_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.q_emb, e.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p) WHERE rnk <= 10""".stripMargin,
    "d04_embed_neardup" ->
      """WITH n AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM n a, n b WHERE a.vec_id < b.vec_id AND
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.45""".stripMargin,
    "d08_lang_id" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 4000) AS s,
        |  regexp_replace(' ' || lower(substr(text, 1, 4000)) || ' ', ' ', '  ', 'g') AS p
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(length(regexp_extract_all(s, '[\x{4E00}-\x{9FFF}]')) AS INTEGER) AS cjk,
        |  CAST(length(regexp_extract_all(s, '[\x{3040}-\x{30FF}]')) AS INTEGER) AS kana,
        |  CAST(length(regexp_extract_all(s, '[\x{AC00}-\x{D7AF}]')) AS INTEGER) AS hangul,
        |  CAST(length(regexp_extract_all(s, '[\x{0600}-\x{06FF}]')) AS INTEGER) AS arab,
        |  CAST(length(regexp_extract_all(s, '[\x{0400}-\x{04FF}]')) AS INTEGER) AS cyr,
        |  CAST(length(regexp_extract_all(s, '[A-Za-z\x{00C0}-\x{017F}]')) AS INTEGER) AS latin,
        |  CAST(length(regexp_extract_all(p, '[ ](?:the|and|of|to|is)[ ]')) AS INTEGER) AS w_en,
        |  CAST(length(regexp_extract_all(p, '[ ](?:der|und|die|das|ist)[ ]'))
        |    + length(regexp_extract_all(lower(s), '[äöüß]')) AS INTEGER) AS w_de,
        |  CAST(length(regexp_extract_all(p, '[ ](?:le|la|les|et|est)[ ]')) AS INTEGER) AS w_fr,
        |  CAST(length(regexp_extract_all(p, '[ ](?:el|los|las|y|es)[ ]')) AS INTEGER) AS w_es
        |FROM t)
        |SELECT doc_id, latin AS n_latin, cjk AS n_cjk,
        |  CASE WHEN total = 0 THEN 'und'
        |       WHEN kana * 5 >= total THEN 'ja'
        |       WHEN hangul * 2 >= total THEN 'ko'
        |       WHEN cjk * 2 >= total THEN 'zh'
        |       WHEN arab * 2 >= total THEN 'ar'
        |       WHEN cyr * 2 >= total THEN 'ru'
        |       WHEN latin * 2 >= total THEN (
        |         CASE WHEN greatest(w_en, w_de, w_fr, w_es) = 0 THEN 'en'
        |              WHEN w_en >= w_de AND w_en >= w_fr AND w_en >= w_es THEN 'en'
        |              WHEN w_de >= w_fr AND w_de >= w_es THEN 'de'
        |              WHEN w_fr >= w_es THEN 'fr'
        |              ELSE 'es' END)
        |       ELSE 'und' END AS detected_lang
        |FROM (SELECT *, cjk + kana + hangul + arab + cyr + latin AS total FROM c)
        |ORDER BY doc_id""".stripMargin,
    "d11_token_bpe" ->
      """SELECT doc_id,
        |  CAST(length(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\r0-9A-Za-z]+|[ \t\n\r]+')) AS INTEGER)
        |    AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d12_quality" ->
      """SELECT doc_id,
        |  CAST(length(regexp_extract_all(lower(text),
        |    '\b(?:the|a|and|of|to|is|in|that|it|for)\b')) AS INTEGER) AS n_stopwords,
        |  CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_word_runs,
        |  CAST(length(regexp_extract_all(text, '[^ \t\n\r]')) AS INTEGER) AS n_nonspace
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d14_quality_filter" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(regexp_extract_all(text, '[A-Za-z]+')) >= 10
        |    AND length(regexp_extract_all(lower(text),
        |      '\b(?:the|a|and|of|to|is|in|that|it|for)\b')) >= 2
        |    AND length(regexp_extract_all(text, '[0-9]')) * 2 <=
        |      length(regexp_extract_all(text, '[^ \t\n\r]'))
        |  THEN 1 ELSE 0 END AS INTEGER) AS keep_flag
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d16_seg_dedup" ->
      """WITH segs AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS seg,
        |         unnest(range(len(string_split(text, ' ')))) AS seg_idx
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, seg_idx, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs WHERE length(seg) >= 3),
        |kept AS (
        |  SELECT doc_id, seg_idx, seg FROM cand WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, seg_idx, seg FROM segs WHERE length(seg) < 3),
        |reb AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS kept_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_segments,
        |  coalesce(r.n_kept, 0) AS n_kept,
        |  coalesce(r.kept_text, '') AS kept_text
        |FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d17_rep_segments" ->
      """WITH segs AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS seg FROM documents),
        |g AS (SELECT doc_id, seg, count(*) AS c FROM segs GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_segments,
        |  CAST(sum(c - 1) AS BIGINT) AS n_dup_segments,
        |  CAST(sum((c - 1) * length(seg)) AS BIGINT) AS n_dup_chars
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d18_top_bigram" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
        |      x -> lower(x)) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(t) - 1),
        |      i -> t[i + 1] || ' ' || t[i + 2])) AS b
        |  FROM toks),
        |g AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(max(c) AS BIGINT) AS n_top_bigram
        |  FROM g GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.n_top_bigram, 0) AS n_top_bigram
        |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "d19_source_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "d20_hash_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
        |ORDER BY doc_id""".stripMargin,
    "d32_host_split" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(source), 1, 1) < '8'
        |ORDER BY doc_id""".stripMargin,
    "d33_incremental" ->
      """WITH n AS (SELECT count(*) AS c FROM documents),
        |k AS (SELECT doc_id, source, md5(text) AS content_md5 FROM documents)
        |SELECT b.doc_id, b.content_md5, b.source
        |FROM k b, n
        |WHERE b.doc_id >= (n.c * 4) // 10
        |  AND NOT EXISTS (
        |    SELECT 1 FROM k s, n
        |    WHERE s.doc_id < (n.c * 7) // 10
        |      AND s.content_md5 = b.content_md5)
        |ORDER BY b.doc_id""".stripMargin,
    "d21_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id % 100 AS VARCHAR)
        |      || ' call +1415555' || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ipv4,
        |  CAST(len(regexp_extract_all(t, '\+\d{7,15}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
        |    '\+\d{7,15}', '[PHONE]', 'g') AS scrubbed
        |FROM inj ORDER BY doc_id""".stripMargin,
    "d22_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
        |      x -> lower(x)) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
        |hits AS (
        |  SELECT gr.doc_id, count(*) AS c
        |  FROM grams gr JOIN bench b ON gr.g = b.g GROUP BY 1)
        |SELECT t.doc_id, CAST(coalesce(h.c, 0) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN coalesce(h.c, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS contaminated
        |FROM toks t LEFT JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "d23_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |      ELSE length(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s
        |  FROM t)
        |SELECT doc_id, n_tok, s // 512 AS seq_id, s % 512 AS seq_off,
        |  CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT)
        |       ELSE (s + n_tok - 1) // 512 - s // 512 + 1 END AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    "d24_components" ->
      """WITH RECURSIVE
        |e AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents
        |  WHERE doc_id % 10 < 3
        |    AND doc_id + 1 < (SELECT count(*) FROM documents)),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |walk(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.node)
        |SELECT node AS doc_id, min(lbl) AS component,
        |  CAST(CASE WHEN node = min(lbl) THEN 1 ELSE 0 END AS INTEGER)
        |    AS is_keeper
        |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,
    "d25_nfc_norm" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' A' || chr(778) || chr(769) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(t) AS INTEGER) AS raw_chars,
        |  CAST(length(nfc_normalize(t)) AS INTEGER) AS nfc_chars,
        |  nfc_normalize(t) AS nfc_text
        |FROM inj ORDER BY doc_id""".stripMargin,
    "d26_url_canon" ->
      """SELECT doc_id,
        |  'http://www.site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
        |    || CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END
        |    || '/Path/' || CAST(doc_id AS VARCHAR)
        |    || '?a=1&b=' || CAST(doc_id % 3 AS VARCHAR) AS url_canon
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d35_mix_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '4000'
        |    ELSE 'g' END
        |ORDER BY doc_id""".stripMargin,
    "d34_url_dedup" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    'http://www.site' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.example.com/Page/' || CAST(doc_id % 50 AS VARCHAR)
        |      || '?x=1' AS url_canon
        |  FROM documents)
        |SELECT url_canon, min(doc_id) AS canonical_id,
        |  count(*) AS n_aliases
        |FROM c GROUP BY url_canon ORDER BY canonical_id""".stripMargin,
    // Programmatic oracle: the SQL embeds the plane constants the Spark
    // side broadcasts, so DuckDB re-derives every signature bit from first
    // principles — identical index-order double arithmetic on both sides.
    "d36_lsh_witness" -> {
      val planes = Similarity.planesFor(16, 12, 42L)
      val bits = planes.zipWithIndex.map { case (p, b) =>
        val dot = p.zipWithIndex
          .map { case (c, i) => s"embedding[${i + 1}] * $c" }.mkString(" + ")
        s"CASE WHEN ($dot) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("\n  + ")
      s"""SELECT vec_id,
         |  CAST(CASE WHEN vec_id % 37 = 0 OR vec_id % 41 = 0 THEN 0
         |  ELSE $bits
         |  END AS BIGINT) AS sig
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    // Programmatic oracle: same centroid literals as the Spark broadcast;
    // LEAST + first-match CASE reproduces the strict-< lowest-index argmin.
    "d37_ivf_witness" -> {
      val cs = Similarity.planesFor(16, 8, 7L)
      val dcols = cs.zipWithIndex.map { case (cvec, ci) =>
        val terms = cvec.zipWithIndex.map { case (c, i) =>
          s"(embedding[${i + 1}] - $c) * (embedding[${i + 1}] - $c)"
        }.mkString(" + ")
        s"$terms AS d$ci"
      }.mkString(",\n    ")
      val m = cs.indices.map(ci => s"d$ci").mkString(", ")
      val argmin = cs.indices.map(ci => s"WHEN d$ci = m THEN $ci").mkString(" ")
      s"""WITH dist AS (
         |  SELECT vec_id, $dcols
         |  FROM embeddings
         |  WHERE vec_id % 37 <> 0 AND vec_id % 41 <> 0),
         |dm AS (SELECT *, LEAST($m) AS m FROM dist)
         |SELECT vec_id, CAST(CASE $argmin END AS INTEGER) AS cell
         |FROM dm ORDER BY vec_id""".stripMargin
    },
    // SemDeDup end-to-end oracle: same centroid literals as the Spark
    // broadcast; assignment + centroid cosine re-derived per cell
    // (index-order double arithmetic, d36/d37 style), the within-cell
    // ε-graph via the d04 list fold, components via the d24 recursive CTE,
    // and the paper's lowest-centroid-cosine keep rule as a window over
    // components. Every comparison is between bit-identical doubles, so the
    // full (cell, component, keep) table hash-matches.
    "d41_semdedup" -> {
      val cs = Similarity.planesFor(16, 8, 7L)
      val cNorm = cs.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }
        math.sqrt(s)
      }
      val dcols = cs.zipWithIndex.map { case (cvec, ci) =>
        val terms = cvec.zipWithIndex.map { case (c, i) =>
          s"(e[${i + 1}] - $c) * (e[${i + 1}] - $c)"
        }.mkString(" + ")
        s"$terms AS d$ci"
      }.mkString(",\n    ")
      val pcols = cs.zipWithIndex.map { case (cvec, ci) =>
        val terms = cvec.zipWithIndex.map { case (c, i) =>
          s"e[${i + 1}] * $c"
        }.mkString(" + ")
        s"$terms AS p$ci"
      }.mkString(",\n    ")
      val nrmExpr = (0 until 16).map(i =>
        s"CAST(e[${i + 1}] AS DOUBLE) * CAST(e[${i + 1}] AS DOUBLE)")
        .mkString(" + ")
      val m = cs.indices.map(ci => s"d$ci").mkString(", ")
      val argmin = cs.indices.map(ci => s"WHEN d$ci = m THEN $ci").mkString(" ")
      val csim = cs.indices.map(ci =>
        s"WHEN d$ci = m THEN CASE WHEN nrm > 0 THEN p$ci / (nrm * ${cNorm(ci)}) ELSE 0.0 END")
        .mkString(" ")
      s"""WITH RECURSIVE
         |v AS (
         |  SELECT vec_id, list_slice(embedding, 1, 16) AS e
         |  FROM embeddings WHERE vec_id % 37 <> 0 AND vec_id % 41 <> 0),
         |b AS (
         |  SELECT vec_id, e, sqrt($nrmExpr) AS nrm,
         |    $dcols,
         |    $pcols
         |  FROM v),
         |bm AS (SELECT *, LEAST($m) AS m FROM b),
         |asg AS (
         |  SELECT vec_id, e, nrm,
         |    CAST(CASE $argmin END AS INTEGER) AS cell,
         |    CASE $csim END AS csim
         |  FROM bm),
         |edges AS (
         |  SELECT x.vec_id AS ea, y.vec_id AS eb
         |  FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE CASE WHEN x.nrm * y.nrm > 0 THEN
         |      list_sum(list_transform(list_zip(x.e, y.e),
         |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |      / (x.nrm * y.nrm)
         |    ELSE 0.0 END >= 0.7),
         |sym AS (SELECT ea AS a, eb AS b FROM edges
         |        UNION SELECT eb, ea FROM edges),
         |walk(node, lbl) AS (
         |  SELECT vec_id, vec_id FROM asg
         |  UNION
         |  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.node),
         |comp AS (SELECT node AS vec_id, min(lbl) AS component
         |         FROM walk GROUP BY node)
         |SELECT c.vec_id, a.cell, c.component,
         |  CAST(CASE WHEN row_number() OVER (
         |      PARTITION BY c.component ORDER BY a.csim, c.vec_id) = 1
         |    THEN 1 ELSE 0 END AS INTEGER) AS keep,
         |  CAST(0 AS INTEGER) AS capped
         |FROM comp c JOIN asg a ON a.vec_id = c.vec_id
         |ORDER BY c.vec_id""".stripMargin
    },
    // Same smoothed unigram models re-derived from scratch: md5-hash
    // buckets, Laplace +1, one round() per bucket log-ratio, bigint sums.
    "d38_dsir_weights" -> (dsirWeightCtes + "," + "\n" +
      """w AS (
        |  SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_grams,
        |    CAST(sum(db.c * lr.lr_micros) AS BIGINT) AS weight_micros
        |  FROM db JOIN lr ON db.bkt = lr.bkt GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(w.n_grams, 0) AS n_grams,
        |  coalesce(w.weight_micros, 0) AS weight_micros
        |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // d38's weights + the md5-seeded fixed-point Gumbel key; the LIMIT
    // boundary is deterministic because (key DESC, doc_id) is a total order
    "d39_dsir_sample" -> (dsirWeightCtes + "," + "\n" +
      """w AS (
        |  SELECT db.doc_id, CAST(sum(db.c * lr.lr_micros) AS BIGINT) AS wm
        |  FROM db JOIN lr ON db.bkt = lr.bkt GROUP BY 1),
        |wfull AS (
        |  SELECT d.doc_id, coalesce(w.wm, 0) AS weight_micros
        |  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id),
        |g AS (
        |  SELECT doc_id, weight_micros,
        |    weight_micros + CAST(round(1e6 * -ln(-ln(
        |      (CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13))
        |         AS BIGINT) + 0.5) / 4503599627370496.0)))
        |      AS BIGINT) AS key_micros
        |  FROM wfull)
        |SELECT doc_id, weight_micros, key_micros
        |FROM g ORDER BY key_micros DESC, doc_id LIMIT 100""".stripMargin),
    // Same hashed-unigram LM re-derived from scratch; lm = corpus, so the
    // bucket join is total. floor of an IEEE division of two < 2^53
    // integers keeps the per-token average engine-exact.
    "d40_unigram_ppl" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x))) AS t
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 256 AS bkt
        |  FROM toks),
        |db AS (SELECT doc_id, bkt, count(*) AS c FROM b GROUP BY 1, 2),
        |mc AS (SELECT bkt, sum(c) AS cm FROM db GROUP BY 1),
        |tot AS (SELECT coalesce(sum(c), 0) AS tm FROM db),
        |nll AS (
        |  SELECT mc.bkt,
        |    CAST(round(1e6 * -ln((mc.cm + 1.0) / (tot.tm + 256.0))) AS BIGINT)
        |      AS m
        |  FROM mc CROSS JOIN tot),
        |w AS (
        |  SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_grams,
        |    CAST(floor(CAST(sum(db.c * nll.m) AS DOUBLE)
        |               / CAST(sum(db.c) AS DOUBLE)) AS BIGINT)
        |      AS nll_micros_per_tok
        |  FROM db JOIN nll ON db.bkt = nll.bkt GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(w.n_grams, 0) AS n_grams,
        |  coalesce(w.nll_micros_per_tok, 0) AS nll_micros_per_tok
        |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d27_dup_windows" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
        |      x -> lower(x)) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks),
        |dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |per AS (
        |  SELECT gr.doc_id, count(*) AS w,
        |    sum(CASE WHEN dg.g IS NOT NULL THEN 1 ELSE 0 END) AS d
        |  FROM grams gr LEFT JOIN dupg dg ON gr.g = dg.g GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(p.w, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(p.d, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(CASE WHEN coalesce(p.w, 0) = 0 THEN 0
        |       ELSE floor(100 * p.d / p.w) END AS BIGINT) AS dup_pct
        |FROM toks t LEFT JOIN per p ON t.doc_id = p.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "d43_vocab" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x))) AS token
        |  FROM documents)
        |SELECT token, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM tok GROUP BY token
        |ORDER BY n_occurrences DESC, token LIMIT 200""".stripMargin,
    "d44_len_hist" ->
      """WITH c AS (
        |  SELECT CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |    AS n
        |  FROM documents)
        |SELECT CAST(CASE WHEN n <= 0 THEN -1
        |    ELSE length(bin(n)) - 1 END AS INTEGER) AS log2_tokens,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same host synthesis + blocklist literals; suffix matching as one LEFT
    // join per level on the label-slice, most-specific entry first in the
    // coalesce — exactly the operator's join chain.
    "d45_blocklist" ->
      """WITH hosts AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN upper(h) || '.' ELSE h END AS host
        |  FROM (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'cdn.' || source || '.example.com'
        |         ELSE source || '.example.com' END AS h
        |    FROM documents)),
        |bl(bl_host, bl_cat) AS (VALUES
        |  ('src1.example.com', 'adult'),
        |  ('src2.example.com', 'tracking'),
        |  ('cdn.src2.example.com', 'ads'),
        |  ('src4.example.com', 'gambling')),
        |lv AS (SELECT doc_id, host,
        |  string_split(lower(rtrim(host, '.')), '.') AS labs
        |  FROM hosts)
        |SELECT lv.doc_id, lv.host,
        |  coalesce(b0.bl_cat, b1.bl_cat, b2.bl_cat, b3.bl_cat)
        |    AS block_category,
        |  CAST(coalesce(b0.bl_cat, b1.bl_cat, b2.bl_cat, b3.bl_cat)
        |    IS NOT NULL AS INTEGER) AS blocked
        |FROM lv
        |LEFT JOIN bl b0 ON len(labs) >= 2
        |  AND array_to_string(labs[1:], '.') = b0.bl_host
        |LEFT JOIN bl b1 ON len(labs) - 1 >= 2
        |  AND array_to_string(labs[2:], '.') = b1.bl_host
        |LEFT JOIN bl b2 ON len(labs) - 2 >= 2
        |  AND array_to_string(labs[3:], '.') = b2.bl_host
        |LEFT JOIN bl b3 ON len(labs) - 3 >= 2
        |  AND array_to_string(labs[4:], '.') = b3.bl_host
        |ORDER BY lv.doc_id""".stripMargin,
    // Same injection expression and the same three anchored ASCII-only
    // boilerplate-line rules (nav phrase, social counter, all-caps bar),
    // evaluated inside a list_filter lambda.
    "d46_line_fix" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    'HOME | ABOUT | CONTACT' || chr(10) || coalesce(text, '')
        |    || chr(10)
        |    || CAST(doc_id % 50 AS VARCHAR) || ' comments'
        |    || CASE WHEN doc_id % 4 = 0
        |        THEN chr(10) || 'Sign in' || chr(13) || chr(10)
        |          || 'Read more' || chr(10) || 'SUBSCRIBE NOW TODAY'
        |        ELSE chr(10) || 'A perfectly ordinary closing line.'
        |      END AS t
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM inj),
        |fx AS (SELECT doc_id, l,
        |  list_filter(l, x -> NOT (
        |    regexp_matches(lower(trim(regexp_replace(x, '\r', '', 'g'))),
        |      '^(?:home|about(?: us)?|contact(?: us)?|sign in|sign up|log in|login|logout|register|subscribe|read more|learn more|menu|search|share|print|previous|next|back to top|skip to content)$')
        |    OR regexp_matches(lower(trim(regexp_replace(x, '\r', '', 'g'))),
        |      '^[0-9]+ (?:likes?|comments?|shares?|views?|replies|votes?|followers)$')
        |    OR (length(regexp_replace(trim(regexp_replace(x, '\r', '', 'g')), '[^A-Za-z]', '', 'g')) >= 4
        |        AND regexp_replace(trim(regexp_replace(x, '\r', '', 'g')), '[^A-Za-z]', '', 'g')
        |            = upper(regexp_replace(trim(regexp_replace(x, '\r', '', 'g')), '[^A-Za-z]', '', 'g'))
        |        AND length(trim(regexp_replace(x, '\r', '', 'g'))) <= 80))) AS k
        |  FROM ls)
        |SELECT doc_id,
        |  CAST(len(l) AS BIGINT) AS n_lines,
        |  CAST(len(l) - len(k) AS BIGINT) AS n_removed,
        |  CAST((len(l) - len(k)) * 2 <= len(l) AS INTEGER) AS doc_kept,
        |  array_to_string(k, chr(10)) AS fixed_text
        |FROM fx ORDER BY doc_id""".stripMargin,
    // Planted-truth reconstruction: media ids are 0..2n-1 (n = documents
    // rows), generated as a series exactly like the engine's range(2n) —
    // never rebuilt from doc_id, which need not be dense — every header
    // field the same integer arithmetic the witness builder packed into the
    // container bytes, and the fixed 64-byte body pins total sizes per
    // format.
    "m03_media_witness" ->
      """WITH ids AS (
        |  SELECT unnest(range(2 * (SELECT count(*) FROM documents))) AS media_id)
        |SELECT media_id,
        |  CASE media_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    ELSE 'wav' END AS format,
        |  CAST(CASE media_id % 3
        |    WHEN 0 THEN 16 + (media_id * 37) % 2048
        |    WHEN 1 THEN 8 + (media_id * 41) % 4000
        |    ELSE -1 END AS INTEGER) AS width,
        |  CAST(CASE media_id % 3
        |    WHEN 0 THEN 16 + (media_id * 53) % 2048
        |    WHEN 1 THEN 8 + (media_id * 29) % 4000
        |    ELSE -1 END AS INTEGER) AS height,
        |  CAST(CASE media_id % 3 WHEN 2 THEN
        |      ([8000, 16000, 22050, 44100, 48000])[CAST((media_id * 31) % 5 AS INTEGER) + 1]
        |    ELSE -1 END AS INTEGER) AS sample_rate,
        |  CAST(CASE media_id % 3 WHEN 2 THEN 1 + media_id % 2
        |    ELSE -1 END AS INTEGER) AS channels,
        |  CAST(CASE media_id % 3 WHEN 0 THEN 97 WHEN 1 THEN 83
        |    ELSE 100 END AS BIGINT) AS n_bytes
        |FROM ids ORDER BY media_id""".stripMargin,
    // Same token/window grammar as the d27 oracle, plus ownership (first
    // occurrence by (doc_id, pos) keeps its text) and token-coverage
    // removal; kept tokens re-join in order.
    "d42_dup_removal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[A-Za-z0-9]+'),
        |      x -> lower(x)) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(t) - 6)) AS pos,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks),
        |fl AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      count(*) OVER (PARTITION BY g) AS c,
        |      row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM w)
        |  WHERE c >= 2 AND rn > 1),
        |tk AS (
        |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, unnest(t) AS tok
        |  FROM toks),
        |keptk AS (
        |  SELECT k.doc_id, k.i, k.tok FROM tk k
        |  WHERE NOT EXISTS (SELECT 1 FROM fl f
        |    WHERE f.doc_id = k.doc_id AND k.i BETWEEN f.pos AND f.pos + 7)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY i) AS text_clean
        |  FROM keptk GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.text_clean, '') AS text_clean
        |FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "d28_minhash_witness" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)),
        |      ' ') AS b
        |  FROM documents WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(b) - 4, 0) + 1),
        |      i -> substr(b, i, 5)) AS shingles
        |  FROM base)
        |SELECT doc_id, CAST(j AS INTEGER) AS hash_idx,
        |  list_min(list_transform(shingles,
        |    s -> md5(CAST(j AS VARCHAR) || ':' || s))) AS minhash
        |FROM sh CROSS JOIN range(0, 16) r(j)
        |ORDER BY doc_id, hash_idx""".stripMargin,
    "d29_simhash_witness" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x))) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN range(0, 60) r(b) GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
        |        ELSE 0 END) AS simhash
        |  FROM bits GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(g.simhash, 0) AS BIGINT) AS simhash
        |FROM documents d LEFT JOIN sig g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d30_winnow_witness" ->
      """WITH toks AS (
        |  SELECT doc_id, list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |grams AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
        |      i -> md5(array_to_string(t[i:i+2], ' '))) AS hs
        |  FROM toks)
        |SELECT doc_id,
        |  unnest(list_distinct(list_transform(
        |    range(1, greatest(len(hs) - 3, 0) + 1),
        |    i -> list_min(hs[i:i+3])))) AS fp
        |FROM grams
        |ORDER BY doc_id, fp""".stripMargin,
    "d31_jaccard_witness" ->
      """WITH toks AS (
        |  SELECT doc_id, list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9]+'), x -> lower(x)) AS t
        |  FROM documents WHERE doc_id % 10 = 0),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
        |      i -> md5(array_to_string(t[i:i+2], ' ')))) AS gkey
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM grams a JOIN grams b ON a.gkey = b.gkey AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT x.doc_a, x.doc_b,
        |  CAST(floor(100 * x.i / (sa.n + sb.n - x.i)) AS BIGINT) AS jaccard_pct
        |FROM inter x
        |JOIN sizes sa ON x.doc_a = sa.doc_id
        |JOIN sizes sb ON x.doc_b = sb.doc_id
        |ORDER BY x.doc_a, x.doc_b""".stripMargin,
    "r05_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "r06_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "r01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "r02_join_agg" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "r03_window" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin,
    "r04_sessionize" ->
      """SELECT user_id,
        |  CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, ts, event_id,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
