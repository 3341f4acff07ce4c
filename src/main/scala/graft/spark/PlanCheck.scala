package graft.spark

import org.apache.spark.sql.SparkSession

/** Physical-plan audit for the headline queries: asserts the plan shapes that
  * matter at 100 TB — filter/projection pushdown into the parquet scan,
  * broadcast join for the small dimension side, whole-stage codegen spans in
  * the relational shell. Prints each plan and a PASS/FAIL per assertion.
  * runMain graft.spark.PlanCheck <sfDir>
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var failures = 0
    def check(name: String, plan: String, mustContain: Seq[String], mustNot: Seq[String] = Nil): Unit = {
      for (m <- mustContain)
        if (plan.contains(m)) println(s"PASS $name: contains '$m'")
        else { println(s"FAIL $name: missing '$m'"); failures += 1 }
      for (m <- mustNot)
        if (!plan.contains(m)) println(s"PASS $name: no '$m'")
        else { println(s"FAIL $name: unexpected '$m'"); failures += 1 }
    }
    def planOf(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    }

    // r01: aggregation must be partial (map-side combine, partial_ before the
    // exchange) and the executed plan codegen'd (AQE hides codegen markers in
    // SimpleMode until the plan is finalized, so run it and inspect)
    val r01df = graft.SparkEntry.queries("r01_agg")(spark, sfDir)
    val r01 = r01df.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    check("r01_agg", r01, Seq("HashAggregate", "partial_count"))
    r01df.collect()
    // '*' prefix = WholeStageCodegen in Spark 4 formatted explain
    val r01Formatted = r01df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    check("r01_agg executed (codegen)", r01Formatted,
      Seq("* HashAggregate", "* ColumnarToRow"))

    // r02: explicit broadcast of orders must become a BroadcastHashJoin
    val r02 = planOf("r02_join_agg")
    check("r02_join_agg", r02, Seq("BroadcastHashJoin"), Seq("SortMergeJoin"))

    // d01: projection pruning — scan must read only doc_id + text
    val d01 = planOf("d01_text_stats")
    check("d01_text_stats", d01, Seq("ReadSchema: struct<doc_id:bigint,text:string>"))

    // filter pushdown reaches the parquet source
    val filtered = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42)
      .select("l_orderkey", "l_quantity")
    val fp = filtered.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("pushdown", fp, Seq("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)"))

    // d03: query side must broadcast; corpus side must NOT shuffle before
    // join; top-k must be the bounded-heap mapPartitions, NOT a window rank
    // (a window would put the whole scored corpus in one partition per query)
    val d03 = planOf("d03_ann_topk")
    check("d03_ann_topk", d03, Seq("BroadcastNestedLoopJoin"), Seq("Window"))

    // d04: the near-dup product is a blocked broadcast JOIN — the block is
    // built by the executors at execution time, never collected to the driver
    // — fed from the persisted (vec_id, embedding, nrm) projection so the
    // B block branches scan the corpus once (InMemoryTableScan), not 2B times.
    // Audited on the LAZY plan (nearDupPairsPlan): planOf on the query itself
    // would EXECUTE the whole materializing near-dup job just to read a plan.
    val (d04Union, d04Nd) = graft.ops.Similarity.nearDupPairsPlan(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), 0.45, maxBroadcast = 64)
    val d04 = d04Union.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d04_embed_neardup (lazy plan)", d04,
      Seq("BroadcastNestedLoopJoin", "InMemoryTableScan"), Seq("Window"))
    d04Nd.unpersist()

    // d05: the minhash signatures ride the bucket exchange and each
    // candidate is verified inside the bucket pass — one lazy plan with no
    // persisted signatures and no join back to them
    val d05 = graft.ops.Dedup.minhashPairs(spark,
        spark.read.parquet(s"$sfDir/documents.parquet"), threshold = 0.7)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d05_minhash (lazy plan)", d05, Nil, Seq("Join", "InMemoryTableScan", "zip_with"))
    // d05/d06/d15: the banded pairs must bucket through the explicit
    // repartition on the bucket key (REPARTITION_BY_NUM, which AQE never
    // coalesces into one task) and a sorted-run pass — a groupByKey/
    // flatMapGroups body plans as MapGroups over an ENSURE_REQUIREMENTS
    // exchange instead
    def bucketed(name: String, plan: String, key: String): Unit = {
      val byNum = plan.linesIterator.exists(l =>
        l.contains(s"Exchange hashpartitioning($key#") && l.contains("REPARTITION_BY_NUM"))
      if (byNum) println(s"PASS $name: buckets through a REPARTITION_BY_NUM exchange on $key")
      else { println(s"FAIL $name: no REPARTITION_BY_NUM exchange on $key"); failures += 1 }
      check(name, plan, Nil, Seq("MapGroups"))
    }
    bucketed("d05_minhash (lazy plan)", d05, "band")
    // d15: the LSH near-dup path reads the embedding projection once and
    // verifies each candidate inside the bucket pass, where the vectors
    // ride with their bucket rows: no join back to the corpus — lazy plan,
    // and a fixed bits so not even autoBits' count runs
    val d15 = graft.ops.Similarity.nearDupPairsLsh(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), 0.45, dim = 64, bits = 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d15_neardup_lsh (lazy plan)", d15, Nil, Seq("Join", "InMemoryTableScan"))
    bucketed("d15_neardup_lsh (lazy plan)", d15, "tbl")
    // d06 is lazy by design: its query plan is built without running a job
    bucketed("d06_simhash", planOf("d06_simhash"), "_1")

    // d16/d19: the segment-dedup winner and the per-source quota must be
    // partial-aggregation shapes, NEVER a corpus-wide Window — a window
    // `partition by segment/source` funnels every copy of a hot key (a
    // boilerplate line duplicated 10^9 times, a hot domain) through ONE
    // reducer with no map-side relief
    val d16 = planOf("d16_seg_dedup")
    check("d16_seg_dedup", d16, Seq("HashAggregate"), Seq("Window"))
    val d19 = planOf("d19_source_quota")
    check("d19_source_quota", d19, Seq("MapPartitions"), Seq("Window"))
    // d22: the benchmark gram set must BROADCAST into the corpus-side join
    // (the eval set is always the small side; a SortMergeJoin here would
    // shuffle every corpus gram)
    val d22 = planOf("d22_decontaminate")
    check("d22_decontaminate", d22, Seq("BroadcastHashJoin"), Seq("SortMergeJoin"))
    // d33: incremental-crawl dedup — the seen side must carry the Bloom
    // prefilter (the broadcast-probing lambda, embedded by Catalyst as a
    // row-level Filter invoke — no Serialize/Deserialize pair) so only
    // batch-colliding seen keys reach the anti-join; no Window anywhere.
    val d33 = planOf("d33_incremental")
    check("d33_incremental", d33,
      Seq("LeftAnti", "graft.ops.Dedup"), Seq("Window"))
    // d27: duplicate-window stats must be aggregate shapes end to end —
    // global gram counts via ONE partial HashAggregate over the exploded
    // windows (the singleton-complement formulation has no gram persist and
    // no gram-keyed join-back, so no InMemoryTableScan is expected), and
    // NEVER a corpus Window `partition by gram` (a boilerplate 8-gram
    // duplicated 10^9 times would funnel through one reducer) — audited on
    // the lazy (materialize = false) plan, nothing executed
    val d27 = graft.ops.Dedup.dupWindowStats(
        spark.read.parquet(s"$sfDir/documents.parquet"), n = 8,
        materialize = false)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d27_dup_windows (lazy plan)", d27,
      Seq("HashAggregate"), Seq("Window", "InMemoryTableScan"))
    // d38: DSIR weights — the bucket log-ratio table (<= `buckets` rows)
    // must BROADCAST into the corpus-side per-doc sum (a SortMergeJoin
    // there would shuffle the whole per-(doc,bucket) relation against a
    // 256-row table), and per-doc weights must never use a Window —
    // audited on the lazy (materialize = false) plan, nothing executed
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val d38 = graft.ops.Sampling.dsirWeights(docsDf,
        docsDf.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0),
        materialize = false)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d38_dsir_weights (lazy plan)", d38,
      Seq("BroadcastHashJoin", "HashAggregate"), Seq("Window"))
    // d40: same audit for the perplexity scorer — LM table broadcasts,
    // per-doc NLL is aggregate-shaped, never a Window
    val d40 = graft.ops.Sampling.unigramNll(docsDf, docsDf,
        materialize = false)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d40_unigram_ppl (lazy plan)", d40,
      Seq("BroadcastHashJoin", "HashAggregate"), Seq("Window"))
    // d42: the removal pass must be aggregate + join-back shapes — the
    // gram verdicts come from a partial HashAggregate and rejoin the window
    // stream on the short key, never a corpus Window `partition by gram`
    // (one boilerplate 8-gram duplicated 10^9 times would funnel through a
    // single reducer) — audited on the lazy (materialize = false) plan,
    // nothing executed, no persist markers taken
    val d42 = graft.ops.Dedup.removeDupWindows(
        spark.read.parquet(s"$sfDir/documents.parquet"), n = 8,
        materialize = false)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d42_dup_removal (lazy plan)", d42,
      Seq("HashAggregate"), Seq("Window", "InMemoryTableScan", "CartesianProduct"))
    // d41: SemDeDup must be one narrow assignment map into ONE cell-keyed
    // exchange feeding per-cell tasks (MapGroups) — never a corpus
    // self-join (the ε-graph is local), never a Window, never iterative
    // label propagation reading caches. Lazy plan: nothing executes.
    val d41 = graft.ops.Similarity.semDedup(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        graft.ops.Similarity.planesFor(16, 8, 7L), 0.7)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d41_semdedup (lazy plan)", d41, Seq("MapGroups"),
      Seq("Window", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "CartesianProduct", "InMemoryTableScan"))
    // d43: the vocabulary top-k must be TakeOrderedAndProject (bounded
    // per-partition top-k, k rows to the driver) over a partial aggregate —
    // never a global Sort of the vocabulary or a Window rank
    val d43 = planOf("d43_vocab")
    check("d43_vocab", d43,
      Seq("TakeOrderedAndProject", "HashAggregate"), Seq("Window"))
    // d23: packing must be the two-phase scan over the sorted RDD (the
    // object handoff prints as SerializeFromObject over Scan[obj]) — a
    // `Window` here would mean the global single-task cumsum crept back in.
    // NOTE: unlike d04 there is no lazy plan mode — the operator is
    // eager by nature (phase 1 collects per-partition sums), so planOf runs
    // its two narrow passes over (id, count) pairs at this audit's sf. That
    // is the documented cost of auditing it, not an execute-to-audit bug.
    val d23 = planOf("d23_seq_pack")
    check("d23_seq_pack", d23, Seq("SerializeFromObject"), Seq("Window"))
    // d24: same eager-by-nature caveat as d23 (the label-propagation loop
    // must run to converge); the audit sees the persisted converged labels
    val d24 = planOf("d24_components")
    check("d24_components", d24, Seq("InMemoryTableScan"), Seq("Window"))
    // d20: the hash-split operator itself is a pure narrow filter — no
    // exchange at all (the driver query's orderBy adds one for the oracle's
    // deterministic dump, so audit the bare operator)
    val d20narrow = graft.ops.Sampling.hashSample(
        spark.read.parquet(s"$sfDir/documents.parquet"), 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    check("d20_hash_sample (operator)", d20narrow, Nil, Seq("Exchange"))
    // d25/d26: the native text expressions must sit in a plain Project over
    // the scan — no exchange, no BatchEvalPython/fallback wrapper; the
    // codegen'd executed plan is asserted via the WholeStageCodegen marker
    import org.apache.spark.sql.functions.{col, lit}
    for ((nm, bare) <- Seq(
      "d25_nfc (operator)" -> graft.ops.TextOps.nfcNormalize(
        spark.read.parquet(s"$sfDir/documents.parquet"), col("text")),
      "d26_canon_url (operator)" -> graft.ops.TextOps.canonUrls(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        org.apache.spark.sql.functions.concat(lit("http://h/"), col("doc_id"))))) {
      val p = bare.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      check(nm, p, Seq("Project"), Seq("Exchange"))
      val exec = bare.queryExecution.executedPlan.toString
      check(s"$nm executed (codegen)", exec, Seq("*(1) Project"))
    }

    // token family: the native scans must execute inside whole-stage
    // codegen (the whole point — the HOF forms they replaced were
    // interpreted), and the window-key explode must be a codegen'd
    // Generate over a codegen'd Project, with no fallback wrapper
    {
      val toks = graft.ops.TextOps.asciiTokens(col("text"))
      val bare = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), org.apache.spark.sql.functions.explode(
          graft.functions.TokenFunctions.windowXx64Keys(toks, 8)).as("gkey"))
      val p = bare.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      check("token family (operator)", p, Seq("Generate"), Seq("Exchange"))
      val exec = bare.queryExecution.executedPlan.toString
      check("token family executed (codegen)", exec, Seq("*(1) Generate"),
        Seq("BatchEvalPython"))
      val cnt = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(graft.ops.TextOps.asciiTokenCount(col("text")).as("n"))
      check("token count executed (codegen)",
        cnt.queryExecution.executedPlan.toString, Seq("*(1) Project"))
    }

    // d45: the blocklist suffix chain must be all-broadcast LEFT joins —
    // the corpus side never exchanges (the only Exchange allowed is the
    // one-row-per-host dedup agg of the tiny blocklist itself, which sits
    // under a BroadcastExchange); d46: the line fix is a pure narrow
    // projection. Audit the bare operators (the driver queries' orderBy
    // adds a range exchange for the oracle dump).
    {
      import spark.implicits._
      val hosts = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), org.apache.spark.sql.functions
          .concat(col("source"), lit(".example.com")).as("host"))
      val blDf = Seq(("src1.example.com", "adult")).toDF("host", "category")
      val d45 = graft.ops.WebFilters.blocklistFilter(hosts, blDf)
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      check("d45_blocklist (operator)", d45,
        Seq("BroadcastHashJoin"), Seq("SortMergeJoin", "ShuffledHashJoin"))
      // all four suffix levels must be broadcast joins, and the ONLY
      // hash-partitioned exchange allowed is the blocklist's own one-row-
      // per-host dedup agg (keyed bl_host) under its BroadcastExchange —
      // any other Exchange means the corpus moved
      val nBhj = d45.linesIterator.count(_.contains("BroadcastHashJoin"))
      if (nBhj == 4) println("PASS d45_blocklist: 4 broadcast joins (one per level)")
      else { println(s"FAIL d45_blocklist: $nBhj BroadcastHashJoin, expected 4"); failures += 1 }
      val corpusShuffled = d45.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("bl_host"))
      if (!corpusShuffled) println("PASS d45_blocklist: corpus side never exchanges")
      else { println("FAIL d45_blocklist: corpus-side exchange found"); failures += 1 }
      val d46 = graft.ops.WebFilters.lineFix(
          spark.read.parquet(s"$sfDir/documents.parquet"))
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      check("d46_line_fix (operator)", d46, Seq("Project"), Seq("Exchange"))
    }

    if (args.contains("--print")) {
      println(r01); println(r02); println(d01); println(fp); println(d03)
    }
    println(if (failures == 0) "ALL PLAN CHECKS PASSED" else s"$failures PLAN CHECKS FAILED")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
