package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, ReferenceForms, Similarity, TextOps}

/** Planted-truth tests for the training-data operators: exact/near dup
  * detection must find the planted pairs and nothing across distinct docs;
  * ANN recall is measured against brute force. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Distinct docs must use disjoint vocabularies — the fixture word table is
    * tiny, so generator-shared words create real shingle overlap. */
  private def mkText(seed: Int, words: Int): String =
    (0 until words).map(i => s"v${seed}q${(i * 7919) % 997}x").mkString(" ")

  private lazy val docs = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = mkText(1, 200)
    val rows = Seq(
      (0L, base),                                    // original
      (1L, base),                                    // exact dup of 0
      (2L, base.replace(base.substring(10, 18), "zzqq wvv")), // near dup of 0
      (3L, mkText(2, 200)),                          // distinct
      (4L, mkText(3, 200)),                          // distinct
      (5L, mkText(3, 200) + " tail extra words")     // near dup of 4
    )
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups the identical pair only") {
    val groups = Dedup.exact(docs).collect()
    val dupGroup = groups.filter(_.getAs[Long]("n_dups") > 1)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("canonical_id") == 0L)
    assert(dupGroup.head.getAs[Long]("n_dups") == 2L)
  }

  test("dupWindowStats: planted window truth incl. intra-doc repeats, short and empty docs") {
    import spark.implicits._
    val rows = Seq(
      (0L, "a b c d e"),     // 3 windows, all shared with doc 1 -> 100%
      (1L, "A B C D E"),     // case-folds to doc 0's tokens
      (2L, "x y z a b c"),   // 4 windows, only "a b c" duplicated -> 25%
      (3L, "p q"),           // fewer than n tokens -> 0/0/0
      (4L, "m m m m"),       // "m m m" twice IN one doc: both count -> 100%
      (5L, "")               // empty -> 0/0/0
    )
    val out = Dedup.dupWindowStats(rows.toDF("doc_id", "text"), n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((3L, 3L, 100L)))
    assert(out(1L) == ((3L, 3L, 100L)))
    assert(out(2L) == ((4L, 1L, 25L)))
    assert(out(3L) == ((0L, 0L, 0L)))
    assert(out(4L) == ((2L, 2L, 100L)))
    assert(out(5L) == ((0L, 0L, 0L)))
    assert(out.size == 6)
  }

  test("dupWindowStats at the production window width (n=50), both key modes") {
    import spark.implicits._
    // Lee et al. production configs use ~50-token windows; pin the operator
    // at that parameter: 60 shared + 40 unique tokens per doc
    val shared = (0 until 60).map(i => s"s$i").mkString(" ")
    def uniq(d: Int) = (0 until 40).map(i => s"u${d}x$i").mkString(" ")
    val rows = Seq(
      (0L, s"$shared ${uniq(0)}"),   // 100 toks -> 51 windows; 11 all-shared
      (1L, s"$shared ${uniq(1)}"),   // windows (positions 1..11) duplicated
      (2L, uniq(2)))                 // 40 toks < 50 -> 0/0/0
    for (oracle <- Seq(true, false)) {
      val out = Dedup.dupWindowStats(rows.toDF("doc_id", "text"), n = 50,
          oracleKeys = oracle)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(out(0L) == ((51L, 11L, 21L)), s"oracleKeys=$oracle")
      assert(out(1L) == ((51L, 11L, 21L)), s"oracleKeys=$oracle")
      assert(out(2L) == ((0L, 0L, 0L)), s"oracleKeys=$oracle")
    }
  }

  test("dupWindowStats: null / uncastable ids keep correct stats (null-safe doc join)") {
    import spark.implicits._
    // a null id with fully unique text must report 0 dup windows, not 100%
    // (a plain equi-join would drop the null group's singleton credit)
    val rows = Seq(
      (Some(0L), "u1 u2 u3 u4 u5"),          // unique text, real id
      (None, "w1 w2 w3 w4 w5"),              // unique text, NULL id
      (None, "w1 w2 w3 w4 w5"))              // same text again: null group dups
    val out = Dedup.dupWindowStats(rows.toDF("doc_id", "text"), n = 3)
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(Some(0L)) == ((3L, 0L, 0L)))
    // the two null-id rows merge into one group: 6 windows, all duplicated
    assert(out(None) == ((6L, 6L, 100L)))
    assert(out.size == 2)
    // an uncastable STRING id is an ANSI hard error, not a silent null —
    // callers with UUID ids must key via xxhash64/md5 first (x15 precedent)
    val uuid = Seq(("not-a-long", "q1 q2 q3 q4")).toDF("doc_id", "text")
    val e = intercept[Exception] { Dedup.dupWindowStats(uuid, n = 3).collect() }
    assert(e.getMessage.contains("CAST_INVALID_INPUT")
      || Option(e.getCause).exists(_.getMessage.contains("CAST_INVALID_INPUT")))
  }

  test("dupWindowStats: native fast-key mode yields the identical stats as md5 keys") {
    import spark.implicits._
    val rows = Seq(
      (0L, "a b c d e"), (1L, "A B C D E"), (2L, "x y z a b c"),
      (3L, "p q"), (4L, "m m m m"), (5L, ""))
    def run(oracle: Boolean) =
      Dedup.dupWindowStats(rows.toDF("doc_id", "text"), n = 3, oracleKeys = oracle)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(run(false) == run(true))
  }

  test("minhashSignaturesWitness matches an independent MessageDigest reference; short docs null") {
    import spark.implicits._
    val rows = Seq((0L, "Alpha beta-GAMMA"), (1L, "ab"), (2L, ""))
    val out = Dedup.minhashSignaturesWitness(
        rows.toDF("doc_id", "text"), numHashes = 4, shingleK = 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.getString(2))).toMap
    // independent reference: same semantics via java.security directly
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    val b = "alpha beta gamma"
    for (j <- 0 until 4) {
      val expect = (0 to b.length - 5).map(i => md5hex(s"$j:${b.substring(i, i + 5)}")).min
      assert(out((0L, j)) == Some(expect))
      // doc 1 tokenizes to "ab" (< shingleK) and doc 2 is empty: null minhash
      assert(out((1L, j)).isEmpty && out((2L, j)).isEmpty)
    }
    assert(out.size == 12)
  }

  test("fingerprintWitness matches an independent sliding-window-min reference") {
    import spark.implicits._
    val rows = Seq(
      (0L, "a b c d e f g h"),      // 6 grams, 3 full windows
      (1L, "A B C D E F G H"),      // case-folds to doc 0: identical fps
      (2L, "m m m m m m m m"),      // all windows share one min -> 1 fp
      (3L, "p q r s t"),            // 3 grams < w windows -> no rows
      (4L, ""))                     // empty -> no rows
    val out = graft.ops.TextOps.fingerprintWitness(
        rows.toDF("doc_id", "text"), n = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def ref(text: String): Seq[String] = {
      val toks = "[A-Za-z0-9]+".r.findAllIn(text).map(_.toLowerCase).toVector
      val grams =
        if (toks.size < 3) Vector() else toks.sliding(3).map(_.mkString(" ")).toVector
      val hs = grams.map(md5hex)
      if (hs.size < 4) Seq()
      else hs.sliding(4).map(_.min).toVector.distinct.sorted
    }
    assert(out.getOrElse(0L, Seq()) == ref("a b c d e f g h"))
    assert(out.getOrElse(1L, Seq()) == out.getOrElse(0L, Seq())) // case-fold
    assert(out.getOrElse(2L, Seq()) == Seq(md5hex("m m m")))
    assert(!out.contains(3L) && !out.contains(4L))
  }

  test("jaccardWitness: planted overlap truth, case folding, disjoint pairs absent") {
    import spark.implicits._
    val rows = Seq(
      (0L, "a b c d e"),       // grams: abc bcd cde
      (1L, "A B C D E"),       // case-folds identical -> 100 with doc 0
      (2L, "a b c x y z"),     // grams: abc bcx cxy xyz -> |∩|=1 |∪|=6 -> 16
      (3L, "p q r s"),         // disjoint from everything -> no pairs
      (4L, ""))                // no grams -> no pairs
    val out = Dedup.jaccardWitness(rows.toDF("doc_id", "text"), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((0L, 1L)) == 100L)
    assert(out((0L, 2L)) == 16L) // floor(100 * 1 / 6)
    assert(out((1L, 2L)) == 16L)
    assert(out.size == 3) // no pair involves docs 3 or 4
  }

  test("simhashWitness matches an independent per-bit-majority reference; empty doc -> 0") {
    import spark.implicits._
    val rows = Seq((0L, "Alpha beta alpha 42"), (1L, ""))
    val out = Dedup.simhashWitness(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val hs = Seq("alpha", "beta", "alpha", "42").map(h60)
    val expect = (0 until 60).map { b =>
      val s = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
      if (s > 0) 1L << b else 0L
    }.sum
    assert(out(0L) == expect)
    assert(out(1L) == 0L)
    assert(out.size == 2)
  }

  test("minhash-LSH finds planted near-dups, no false pairs across distinct docs") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.6)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(pairs.contains((4L, 5L)))
    val allowed = Set((0L, 1L), (0L, 2L), (1L, 2L), (4L, 5L))
    assert(pairs.subsetOf(allowed), s"false pairs: ${pairs -- allowed}")
  }

  test("tokenCount and qualityFilter are total on null text (0, not NULL)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((0L, null.asInstanceOf[String]), (1L, ""), (2L, "two words"))
      .toDF("doc_id", "text")
    val tc = df.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tc == Map(0L -> 0, 1L -> 0, 2L -> 2))
    val kf = TextOps.qualityFilter(df, col("text")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap // getInt throws on NULL
    assert(kf == Map(0L -> 0, 1L -> 0, 2L -> 0))
  }

  test("minhash-LSH: sub-shingle docs carry no evidence and never pair") {
    import spark.implicits._
    // 'ok' and 'no' are shorter than shingleK=5: both signatures stay at
    // the all-MaxValue sentinel — without the exclusion they'd estimate
    // 100% similar to each other (and to any other shingle-less doc)
    val shorts = Seq(
      (100L, "ok"), (101L, "no"), (102L, ""),
      (103L, "a proper document with enough text to shingle and stand alone"))
    val pairs = Dedup.minhashPairs(shorts.toDF("doc_id", "text"), threshold = 0.6)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.isEmpty, s"sub-shingle docs paired: $pairs")
  }

  test("removeDupWindows: planted removal truth — ownership, coverage merge, intra-doc repeats, null ids pass through") {
    import spark.implicits._
    val corpus = Seq(
      (Some(0L), "a b c d e f g h i j"),   // owner of every shared gram
      (Some(1L), "a b c d e f g h i j"),   // full dup of 0 → fully removed
      (Some(2L), "p q r s t u v w x y z"), // unique → intact
      (Some(3L), "c d e f g h i j"),       // one window, dup of 0's w2 → gone
      (Some(4L), "m1 m2 m3 m4 m5 m6 m7 m8 m1 m2 m3 m4 m5 m6 m7 m8"), // intra-doc
      (Some(5L), "s1 s2"),                 // < n tokens → no windows
      (Some(6L), ""),                      // empty
      (None,     "p q r s t u v w x y z")  // null id: same text as doc 2 —
                                           // must NOT enter the window
                                           // stream (else doc 2 gets culled)
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupWindows(corpus, n = 8)
    val got = out.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => t._1.getOrElse(-1L))
    out.unpersist()
    assert(got === Array(
      (None, 11L, 0L, "p q r s t u v w x y z"),
      (Some(0L), 10L, 0L, "a b c d e f g h i j"),
      (Some(1L), 10L, 10L, ""),
      (Some(2L), 11L, 0L, "p q r s t u v w x y z"),
      (Some(3L), 8L, 8L, ""),
      (Some(4L), 16L, 8L, "m1 m2 m3 m4 m5 m6 m7 m8"),
      (Some(5L), 2L, 0L, "s1 s2"),
      (Some(6L), 0L, 0L, "")))
    // fast xx64 keys produce the identical cleaning on this corpus
    val fast = Dedup.removeDupWindows(corpus, n = 8, oracleKeys = false)
    val gotFast = fast.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => t._1.getOrElse(-1L))
    fast.unpersist()
    assert(gotFast === got)
    // plan-only mode executes to the same rows and caches nothing itself
    val lazyRows = Dedup.removeDupWindows(corpus, n = 8, materialize = false)
      .collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => t._1.getOrElse(-1L))
    assert(lazyRows === got)
    intercept[IllegalArgumentException] {
      Dedup.removeDupWindows(corpus, n = 0)
    }
  }

  test("corpus stats: topTokens counts + doc frequency + deterministic tie order; lengthHistogram integer-exact buckets") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "x x y"),
      (1L, "x z"),
      (2L, ""),
      (3L, "a b c"),
      (4L, "t1 t2 t3 t4 t5 t6 t7 t8")
    ).toDF("doc_id", "text")
    val top = ops.CorpusStats.topTokens(corpus, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // x: 3 occurrences / 2 docs; the 1-occurrence tie breaks on token asc
    assert(top === Array(("x", 3L, 2L), ("a", 1L, 1L)))
    val hist = ops.CorpusStats.lengthHistogram(corpus)
      .orderBy("log2_tokens").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // doc 2: 0 tokens → bucket −1; docs 0/1/3: 3,2,3 tokens → bucket 1;
    // doc 4: 8 tokens → bucket 3
    assert(hist === Array((-1, 1L, 0L), (1, 3L, 8L), (3, 1L, 8L)))
    intercept[IllegalArgumentException] {
      ops.CorpusStats.topTokens(corpus, k = 0)
    }
  }

  test("simhash: identical texts share signature; near-dups within hamming 3") {
    val s0 = Dedup.simhash(mkText(1, 200))
    val s1 = Dedup.simhash(mkText(1, 200))
    assert(s0 == s1)
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((3L, 4L)))
  }

  test("ngram jaccard finds near-dups with correct percentage ordering") {
    val rows = Dedup.ngramJaccardPairs(spark, docs, threshold = 0.3)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Int]("jaccard_pct"))).toMap
    assert(rows.contains((0L, 1L)) && rows((0L, 1L)) == 100)
    assert(rows.contains((0L, 2L)) && rows((0L, 2L)) < 100)
    assert(!rows.keySet.contains((3L, 4L)))
  }

  private lazy val embeddings = {
    import spark.implicits._
    // 3 clusters of 30 vectors in 16-d, cluster centers orthogonal-ish
    val r = new java.util.Random(7)
    val rows = for (c <- 0 until 3; i <- 0 until 30) yield {
      val v = Array.tabulate(16) { d =>
        val center = if (d % 3 == c) 1.0f else 0.0f
        center + (r.nextFloat() - 0.5f) * 0.2f
      }
      ((c * 30 + i).toLong, v, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k neighbors come from the query's cluster") {
    val res = Similarity.bruteForceTopK(embeddings, Seq(0L, 30L, 60L), k = 5)
      .collect()
    assert(res.length == 15)
    for (r <- res) {
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor_id")
      assert(q / 30 == n / 30, s"neighbor $n of query $q crossed clusters")
    }
  }

  test("LSH top-k recall vs brute force >= 0.6 on clustered data") {
    val qs = Seq(0L, 30L, 60L)
    val bf = Similarity.bruteForceTopK(embeddings, qs, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.lshTopK(embeddings, qs, dim = 16, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.6, s"LSH recall $recall too low")
  }

  test("IVF top-k recall vs brute force >= 0.8 on clustered data") {
    val qs = Seq(0L, 30L, 60L)
    val bf = Similarity.bruteForceTopK(embeddings, qs, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(embeddings, qs, k = 5, nCells = 8, nProbe = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"IVF recall $recall too low")
  }

  test("ivfAssignWitness matches an independent argmin-L2 reference; ragged rows excluded") {
    import spark.implicits._
    val cs = Similarity.planesFor(16, 8, 7L)
    // inject the ragged shapes the witness must exclude: null, shorter than
    // the centroid dim, and one LONGER row (only the first 16 dims count)
    val ragged = embeddings.select(
      col("vec_id").cast("long").as("vec_id"),
      when(col("vec_id") === 3L, lit(null).cast("array<float>"))
        .when(col("vec_id") === 5L, expr("slice(embedding, 1, 7)"))
        .when(col("vec_id") === 9L, expr("concat(embedding, array(9.9f))"))
        .otherwise(col("embedding")).as("embedding"))
    val got = Similarity.ivfAssignWitness(ragged, cs).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val src = ragged.as[(Long, Array[Float])].collect()
    // independent reference: fold-left argmin over squared L2, lowest index
    // wins ties; written with different iteration machinery than the kernel
    val expected = src.collect {
      case (id, v) if v != null && v.length >= 16 =>
        val dists = cs.map(c =>
          (0 until 16).map(i => { val t = v(i) - c(i); t * t }).sum)
        id -> dists.zipWithIndex.minBy { case (dd, i) => (dd, i) }._2
    }.toMap
    assert(got == expected)
    assert(!got.contains(3L) && !got.contains(5L) && got.contains(9L))
    assert(got.values.toSet.size > 1) // non-degenerate: multiple cells used
    intercept[IllegalArgumentException](
      Similarity.ivfAssignWitness(ragged, Array.empty))
    intercept[IllegalArgumentException](
      Similarity.ivfAssignWitness(ragged, Array(Array(1.0), Array(1.0, 2.0))))
  }

  test("near-dup pairs by cosine: same-cluster pairs only at 0.9") {
    val pairs = Similarity.nearDupPairs(embeddings, 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a / 30 == b / 30 })
  }

  test("LSH-prefiltered near-dup: no false positives, recall >= 0.7 vs exact at 0.9") {
    val exact = Similarity.nearDupPairs(embeddings, 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = Similarity.nearDupPairsLsh(embeddings, 0.9, dim = 16,
        bits = Similarity.autoBits(embeddings.count())).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // exact verify ⇒ every emitted pair is a true near-dup
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH near-dup recall $recall too low")
  }

  test("near-dup pairs: blocked broadcast (maxBroadcast=16) matches single-block result") {
    val one = Similarity.nearDupPairs(embeddings, 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // 90 vectors with maxBroadcast=16 → 6 hash blocks; union must be
    // duplicate-free and identical to the single-block answer
    val blockedRows = Similarity.nearDupPairs(embeddings, 0.9, maxBroadcast = 16).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(blockedRows.length == blockedRows.toSet.size, "blocked path emitted duplicate pairs")
    assert(blockedRows.toSet == one)
  }

  test("semDedup: planted truth — keep = lowest centroid-cosine, singletons kept, ragged excluded, cap passthrough") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val emb = Seq(
      (1L, Array(10f, 0f)),     // cell 0, csim 1.0
      (2L, Array(9.8f, 1.0f)),  // cell 0, sim(1,2)=.9948 ≥ .97 → dup of 1
      (3L, Array(8f, 3f)),      // cell 0, sim .936/.967 to 1/2 → singleton
      (4L, Array(0f, 5f)),      // cell 1, csim 1.0
      (5L, Array(1f, 9f)),      // cell 1, sim(4,5)=.9939 → dup of 4
      (6L, Array(0f, 0f)),      // zero norm: csim 0, sims DEFINED 0 → singleton
      (7L, null.asInstanceOf[Array[Float]]), // ragged: excluded
      (8L, Array(3f))                        // short: excluded
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, cents, threshold = 0.97)
    val got = out.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    out.unpersist()
    assert(got === Array(
      (1L, 0, 1L, 0, 0), // comp {1,2}: 2 has the LOWER csim → 1 dropped
      (2L, 0, 1L, 1, 0),
      (3L, 0, 3L, 1, 0),
      (4L, 1, 4L, 0, 0), // comp {4,5}: 5 kept, prototypical 4 dropped
      (5L, 1, 4L, 1, 0),
      (6L, 0, 6L, 1, 0)))
    // cell 0 has 4 members; maxCell=3 passes it through undeduped + flagged,
    // while cell 1 still dedups
    val capped = Similarity.semDedup(emb, cents, threshold = 0.97, maxCell = 3)
    val got2 = capped.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    capped.unpersist()
    assert(got2 === Array(
      (1L, 0, 1L, 1, 1),
      (2L, 0, 2L, 1, 1),
      (3L, 0, 3L, 1, 1),
      (4L, 1, 4L, 0, 0),
      (5L, 1, 4L, 1, 0),
      (6L, 0, 6L, 1, 1)))
    intercept[IllegalArgumentException] {
      Similarity.semDedup(emb, cents, threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Similarity.semDedup(emb, Array(Array(1.0), Array(1.0, 2.0)), 0.5)
    }
  }

  test("semDedup trained-centroid path: dup groups stay within planted clusters, exactly one keeper each") {
    val out = Similarity.semDedup(embeddings, nCells = 3, threshold = 0.95,
      maxCell = 1 << 16, sampleN = 4096, seed = 42L)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getInt(3)))
    out.unpersist()
    assert(rows.length == 90)
    // every component holds exactly one keeper, and a multi-member
    // component never crosses the planted cluster boundary (id / 30)
    val byComp = rows.groupBy(_._2)
    for ((comp, members) <- byComp) {
      assert(members.count(_._3 == 1) == 1, s"component $comp keeper count")
      assert(members.map(_._1 / 30).distinct.length == 1,
        s"component $comp crossed planted clusters")
    }
    // the 0.95 graph on 0.2-jitter clusters must actually merge something
    assert(byComp.size < 90, "no dups found at 0.95 on jittered clusters")
  }

  test("autoBits keeps expected bucket occupancy <= target as the corpus grows") {
    // analytic bound: bits >= log2(n/target) ⇒ n / 2^bits <= target, until
    // the 24-bit clamp (~1e9 rows at target 64)
    for (n <- Seq(100L, 1000L, 100000L, 10000000L, 1000000000L)) {
      val bits = Similarity.autoBits(n)
      assert(bits >= 4 && bits <= 24)
      if (n <= 64L * (1L << 24))
        assert(n.toDouble / (1L << bits) <= 64.0, s"n=$n bits=$bits")
    }
    assert(Similarity.autoBits(90) == 4)          // small corpora clamp low
    assert(Similarity.autoBits(1L << 40) == 24)   // huge corpora clamp high
  }

  test("auto-scaled LSH: 10x corpus keeps max bucket occupancy bounded") {
    import spark.implicits._
    // 900 seeded-random vectors (10x the clustered fixture): random
    // hyperplane signatures over random data stay near-balanced, so max
    // occupancy should be within a small factor of n / 2^bits
    val r = new java.util.Random(11)
    val rows = (0L until 900L).map { id =>
      (id, Array.fill(16)((r.nextFloat() - 0.5f) * 2f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val bits = Similarity.autoBits(df.count())
    val occ = df.select(ReferenceForms.signatureExpr(col("embedding"), 16, bits, 42L).as("b"))
      .groupBy("b").count().agg(max("count")).collect()(0).getLong(0)
    assert(occ <= 64L * 8, s"max bucket occupancy $occ with bits=$bits")
  }

  test("broadcast-plane signatures are bit-identical to the literal expression, dim 16 and 768") {
    import spark.implicits._
    for (dim <- Seq(16, 768)) {
      val r = new java.util.Random(7 + dim)
      val rows = (0L until 50L).map { id =>
        (id, Array.fill(dim)((r.nextFloat() - 0.5f) * 2f))
      }
      val df = rows.toDF("vec_id", "embedding")
      val bits = 24
      val viaExpr = df
        .select(col("vec_id"), ReferenceForms.signatureExpr(col("embedding"), dim, bits, 42L).as("b"))
        .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
      val viaBroadcast = Similarity.withSignatures(df, dim, bits, Seq(42L))
        .select(col("vec_id"), col("buckets").getItem(0).as("b"))
        .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
      assert(viaExpr == viaBroadcast, s"signature mismatch at dim $dim")
      // multi-seed path: every table matches its per-seed expression twin
      val seeds = Seq(42L, 42L + 1000003L)
      val multi = Similarity.withSignatures(df, dim, bits, seeds)
        .select(col("vec_id"), col("buckets")).collect()
        .map(r0 => r0.getLong(0) -> r0.getSeq[Long](1)).toMap
      val viaExpr2 = df
        .select(col("vec_id"), ReferenceForms.signatureExpr(col("embedding"), dim, bits, seeds(1)).as("b"))
        .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
      assert(multi.forall { case (id, sigs) => sigs(0) == viaExpr(id) && sigs(1) == viaExpr2(id) })
    }
  }

  test("ragged rows (null / wrong-dim embeddings) match the expression's null semantics: sig 0") {
    import spark.implicits._
    val dim = 16
    val r = new java.util.Random(99)
    def vec(n: Int) = Array.fill(n)((r.nextFloat() - 0.5f) * 2f)
    val rows: Seq[(Long, Array[Float])] = Seq(
      (0L, vec(dim)),        // well-formed
      (1L, null),            // null embedding
      (2L, vec(dim - 3)),    // too short
      (3L, vec(dim + 5)),    // too long
      (4L, Array.empty[Float]))
    val df = rows.toDF("vec_id", "embedding")
    val viaExpr = df
      .select(col("vec_id"), ReferenceForms.signatureExpr(col("embedding"), dim, 24, 42L).as("b"))
      .collect().map(r0 => r0.getLong(0) -> (if (r0.isNullAt(1)) 0L else r0.getLong(1))).toMap
    val viaBroadcast = Similarity.withSignatures(df, dim, 24, Seq(42L))
      .select(col("vec_id"), col("buckets").getItem(0).as("b"))
      .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
    assert(viaExpr == viaBroadcast, s"$viaExpr vs $viaBroadcast")
    assert(viaBroadcast(1L) == 0L && viaBroadcast(2L) == 0L && viaBroadcast(3L) == 0L && viaBroadcast(4L) == 0L)
    assert(viaBroadcast(0L) != 0L) // the well-formed row actually hashes
  }

  test("top-k rank ordering is deterministic: sim desc then neighbor_id asc") {
    // duplicate vectors force exact sim ties; ranks must break on neighbor_id
    import spark.implicits._
    val v = Array.tabulate(8)(_.toFloat + 1f)
    val df = (0L until 6L).map(id => (id, v)).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(df, Seq(0L), k = 5).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    assert(res.toSeq == Seq((1L, 1), (2L, 2), (3L, 3), (4L, 4), (5L, 5)))
  }

  test("native graft_dot matches the higher-order-function fold bit-for-bit") {
    import spark.implicits._
    import graft.functions.VecFunctions.dotF
    val df = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(embeddings.select(col("embedding").as("other")).limit(3))
    val both = df.select(
      dotF(col("embedding"), col("other")).as("native"),
      ReferenceForms.dot(col("embedding"), col("other")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    for (r <- both)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    // and it is SQL-callable. spark.sql.extensions is a STATIC conf — when
    // another suite created the shared SparkContext first, the extension
    // class never loads, so register the same builder triple directly (the
    // supported path for an already-running session).
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot"))) {
      val (id, info, builder) = graft.functions.GraftExtensions.GraftDot
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val v = spark.sql(
      "SELECT graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d").collect()(0).getDouble(0)
    assert(v == 4.0)
    // mismatched lengths surface as NULL (same as the HOF fold), never a
    // silently truncated score
    val nullRow = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d").collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("minhashEstimate keeps exactly the pairs the SQL eqCount form keeps") {
    import spark.implicits._
    // a pair of 64-position signatures with exactly `eq` equal positions;
    // near-threshold counts (18/19 at 0.29, 31/32 at 0.5, 44/45 at 0.7,
    // 63/64 at 1.0) and random ones
    val near = Gen.oneOf(18, 19, 31, 32, 44, 45, 63, 64)
    val pair = for {
      eq <- Gen.frequency(2 -> near, 1 -> Gen.choose(0, 64))
      a <- Gen.listOfN(64, Gen.oneOf(Gen.long, Gen.choose(-2L, 2L)))
      diff <- Gen.pick(64 - eq, 0 until 64)
    } yield (a, a.indices.map(i => if (diff.contains(i)) a(i) ^ 1L else a(i)))
    val random = Gen.zip(Gen.listOfN(64, Gen.choose(0L, 1L)), Gen.listOfN(64, Gen.choose(0L, 1L)))
    // no shrinking: each candidate would rerun the four SQL filters
    val prop = Prop.forAllNoShrink(Gen.listOfN(12, Gen.oneOf(pair, random))) { pairs =>
      val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
        .withColumn("est", (lit(100) * ReferenceForms.eqCount(col("a"), col("b")) / lit(64)).cast("int"))
      Prop.all(Seq(0.29, 0.5, 0.7, 1.0).map { t =>
        val want = df.filter(col("est") >= math.round(t * 100).toInt)
          .select("i", "est").as[(Int, Int)].collect().toSet
        val got = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
          Dedup.minhashEstimate(a.toArray, b.toArray, t).map(i -> _)
        }.toSet
        Prop(got == want) :| s"t=$t only in-bucket ${got -- want}, only SQL ${want -- got}"
      }: _*)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("nearDupPairsLsh: a zero-norm vector pairs with no bucket-mate") {
    import spark.implicits._
    val vecs = Seq((1L, Array(0f, 0f, 0f, 0f)), (2L, Array(-1f, -2f, -3f, -4f)),
      (3L, Array(-1f, -2f, -3f, -4.1f))).toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairsLsh(vecs, 0.45, dim = 4, bits = 4).distinct().as[(Long, Long)].collect()
    assert(got.toSeq == Seq((2L, 3L)))
  }

  test("nearDupPairsLsh's in-bucket verify keeps exactly the pairs the SQL normedCosine filter keeps") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val unit = Array(0.6f, 0.8f, 0f, 0f)
    val vecs: Seq[Array[Float]] = Seq(unit, unit.clone(), Array(0f, 0f, 0f, 0f), null,
      Array(-1f, -2f, -3f, -4f), Array(-1f, -2f, -3f, -4.1f), Array(1f, 2f, 3f),
      Array(Float.NaN, 1f, 0f, 0f), Array(3f, 4f, 0f, 0f), Array(-0.6f, -0.8f, 0f, 0f)) ++
      Seq.fill(12)(Array.fill(4)(rnd.nextGaussian().toFloat))
    val pairs = for (a <- vecs.indices; b <- vecs.indices) yield (a, b)
    val df = pairs.map { case (a, b) => (a, b, vecs(a), vecs(b)) }.toDF("a", "b", "ea", "eb")
      .withColumn("na", sqrt(graft.functions.VecFunctions.dotF(col("ea"), col("ea"))))
      .withColumn("nb", sqrt(graft.functions.VecFunctions.dotF(col("eb"), col("eb"))))
    for (t <- Seq(-1.0, 0.0, 0.45, 0.999, 1.0)) {
      val sim = Similarity.normedCosine(col("ea"), col("na"), col("eb"), col("nb"))
      val want = df.filter(sim >= t).select("a", "b").as[(Int, Int)].collect().toSet
      val got = pairs.filter { case (a, b) =>
        Similarity.cosineAtLeast(Similarity.Normed.of(a, vecs(a)), Similarity.Normed.of(b, vecs(b)), t)
      }.toSet
      assert(got == want, s"t=$t: only in-bucket ${got -- want}, only SQL ${want -- got}")
    }
  }

  test("bandedPairs equals groupBy -> bucketPairs: random runs, buckets of exactly maxBucket and one over") {
    import spark.implicits._
    val cap = 4
    // few keys, so runs sit next to each other and generated buckets merge
    val bucket = for {
      band <- Gen.choose(0, 1)
      key <- Gen.choose(-2L, 2L)
      n <- Gen.oneOf(Gen.const(cap), Gen.const(cap + 1), Gen.choose(1, cap + 2))
      ids <- Gen.listOfN(n, Gen.choose(0L, 30L))
    } yield ids.map(id => (band, key, id))
    val prop = Prop.forAll(Gen.listOf(bucket).map(_.flatten)) { rows =>
      val got = graft.ops.bandedPairs(rows.toDF("band", "bucket", "id"), cap)(_.getLong(2))(
        (a, b) => Some((a, b))).collect().toSeq.sorted
      val want = ReferenceForms.bandedPairs(rows, cap).sorted
      Prop(got == want) :| s"rows=$rows got=$got want=$want"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(30).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("bandedPairs: a run of exactly maxBucket ids yields its C(n,2) pairs in ascending order, one more yields none") {
    import spark.implicits._
    val cap = 4
    val rows = Seq(3L, 0L, 2L, 1L).map(id => (0, 7L, id)) ++ // at the cap
      (0L until 5L).map(id => (0, 8L, id)) ++ // one over
      Seq(9L, 4L).map(id => (1, 7L, id)) // same bucket, other band
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val got = try graft.ops.bandedPairs(rows.toDF("band", "bucket", "id"), cap)(identity)(
      (a, b) => Some((a.getInt(0), a.getLong(2), b.getLong(2)))).collect().toSeq
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    val atCap = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (0, i, j)
    assert(got == atCap :+ ((1, 4L, 9L)))
  }

  test("banded pair producers return the same rows at 1 or 7 input partitions and 1 or 5 shuffle partitions") {
    import spark.implicits._
    val corpus = (0 until 12).flatMap { f =>
      val base = mkText(f + 10, 120)
      Seq((3L * f, base), (3L * f + 1, base.replace(base.substring(20, 30), "zq wv")),
        (3L * f + 2, base + " tail"))
    }.toDF("doc_id", "text")
    // the sorted row multiset: a pair repeats once per band or table it
    // shares, and that stream is what d05/d06/d15 read
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def all(docs: DataFrame, vecs: DataFrame): Seq[Seq[String]] = Seq(
      rows(Dedup.minhashPairs(docs, threshold = 0.5)),
      rows(Dedup.simhashPairs(docs, maxHamming = 3)),
      rows(Similarity.nearDupPairsLsh(vecs, 0.9, dim = 16, bits = 6)))
    val layouts = for {
      shuffle <- Seq("1", "5")
      (docs, vecs) <- Seq((corpus.coalesce(1), embeddings.coalesce(1)),
        (corpus.repartition(7), embeddings.repartition(7)))
    } yield {
      spark.conf.set("spark.sql.shuffle.partitions", shuffle)
      try all(docs, vecs) finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(layouts.head.forall(_.nonEmpty), layouts.head)
    layouts.tail.foreach(l => assert(l == layouts.head))
  }

  test("langId identifies scripts and latin stopword languages") {
    assert(ReferenceForms.langId("the cat and the dog went to the market and it is fine") == "en")
    assert(ReferenceForms.langId("der hund und die katze sind schön und das ist gut") == "de")
    assert(ReferenceForms.langId("中文文本的内容都是汉字组成的句子") == "zh")
    assert(ReferenceForms.langId("こんにちは世界のみなさんお元気ですか") == "ja")
    assert(ReferenceForms.langId("Привет мир это русский текст для проверки") == "ru")
    assert(ReferenceForms.langId("") == "und")
    assert(ReferenceForms.langId("12345 !!! ???") == "und")
  }

  test("column langIdDF agrees with the row kernel on the reference vectors") {
    import spark.implicits._
    val texts = Seq(
      "the cat and the dog went to the market and it is fine",
      "der hund und die katze sind schön und das ist gut",
      "中文文本的内容都是汉字组成的句子",
      "こんにちは世界のみなさんお元気ですか",
      "Привет мир это русский текст для проверки",
      "le chat et la maison est grande et les arbres",
      "12345 !!! ???",
      // punctuation-adjacent stopwords: the kernel counts only space-
      // delimited " word ", so "the," must NOT count — with \b-boundary
      // counting this vector flips to en; the space-exact rule says de
      "the, the, the, the, und der",
      // uppercase diacritics must count after lowering (Ä Ö Ü ß -> de)
      "Ärzte Üben Öfter Große Dinge",
      // adjacent stopwords share a delimiter space; overlap-safe counting
      "is is is el la word words")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val colLang = ReferenceForms.langIdDF(df, col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("detected_lang"))).toMap
    for ((t, i) <- texts.zipWithIndex)
      assert(colLang(i.toLong) == ReferenceForms.langId(t),
        s"column/row langId disagree on '$t': ${colLang(i.toLong)} vs ${ReferenceForms.langId(t)}")
  }

  test("fingerprint is stable and robust to tiny edits, changes on rewrites") {
    val t = mkText(9, 300)
    assert(TextOps.fingerprint(t) == TextOps.fingerprint(t))
    assert(TextOps.fingerprint(t) != TextOps.fingerprint(mkText(10, 300)))
  }

  test("zero-norm embeddings (NaN cosine) never rank in top-k; ragged rows don't crash IVF") {
    import spark.implicits._
    val rows = (0L until 20L).map { i =>
      val v =
        if (i == 19L) Array.fill(8)(0.0f)                       // zero vector -> NaN sim
        else Array.tabulate(8)(d => (((i * 8 + d) % 7).toFloat + 1f) / 7f)
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(df, Seq(0L), k = 5).collect()
    assert(bf.length == 5)
    assert(!bf.exists(_.getAs[Long]("neighbor_id") == 19L),
      "zero-norm (NaN) vector ranked in top-k")
    // ragged corpus: null embedding row must not NPE the IVF path
    val ragged = (rows :+ ((20L, null.asInstanceOf[Array[Float]]))).toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(ragged, Seq(0L), k = 3, nCells = 4, nProbe = 2).collect()
    assert(ivf.nonEmpty)
    assert(!ivf.exists(_.getAs[Long]("neighbor_id") == 20L))
  }

  test("minhashPairs validates bands: non-divisors and out-of-range reject loudly") {
    import spark.implicits._
    val docs = Seq((1L, "some words"), (2L, "some words")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Dedup.minhashPairs(docs, bands = 128))
    intercept[IllegalArgumentException](Dedup.minhashPairs(docs, bands = 0))
    intercept[IllegalArgumentException](Dedup.minhashPairs(docs, bands = 24))
  }

  test("nearDupPairsLsh rejects bits outside [1, 64]") {
    for (bits <- Seq(0, -1, 65))
      intercept[IllegalArgumentException](Similarity.nearDupPairsLsh(embeddings, 0.9, dim = 16, bits = bits))
  }

  test("incrementalNew: bloom path, anti-join fallback, and extreme fpp all equal the exact anti-join") {
    import spark.implicits._
    val seen = Seq((1L, "k1"), (2L, "k2"), (3L, "k3"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "key")
    val batch = Seq((10L, "k2"), (11L, "k9"), (12L, "k3"),
      (13L, "brand-new"), (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "key")
    val exact = batch.join(seen.select("key").where(col("key").isNotNull),
      Seq("key"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(exact sameElements Array(11L, 13L, 14L)) // null key survives, like NOT EXISTS
    // bloom path (default), degenerate-fpp bloom (max FPs), and size-capped
    // fallback (bloom skipped) must all produce the exact result
    for ((fpp, cap) <- Seq((0.01, 256L << 20), (0.5, 256L << 20), (0.01, 0L))) {
      val got = Dedup.incrementalNew(batch, seen, "key", fpp = fpp, maxBloomBytes = cap)
        .select("doc_id").as[Long].collect().sorted
      assert(got sameElements exact, s"fpp=$fpp cap=$cap")
    }
  }

  test("incrementalNew: integral keys work; unsupported key types reject loudly") {
    import spark.implicits._
    val seen = Seq(1, 2, 3).toDF("key")
    val batch = Seq((10L, 2), (11L, 7), (12L, 3)).toDF("doc_id", "key")
    val got = Dedup.incrementalNew(batch, seen, "key")
      .select("doc_id").as[Long].collect().sorted
    assert(got sameElements Array(11L))
    val bad = Seq((1L, Array(1.0f))).toDF("doc_id", "key")
    intercept[IllegalArgumentException](Dedup.incrementalNew(bad, bad, "key"))
    // a bad SEEN side must reject just as loudly (not a task-side CCE)
    intercept[IllegalArgumentException](Dedup.incrementalNew(batch, bad, "key"))
    // cross-family keys (string batch vs integral seen) are a loud error,
    // not an implicit cast inside the join
    val strBatch = Seq((10L, "2")).toDF("doc_id", "key")
    intercept[IllegalArgumentException](Dedup.incrementalNew(strBatch, seen, "key"))
    intercept[IllegalArgumentException](
      Dedup.incrementalNew(batch, strBatch.select("key"), "key"))
  }

  test("incrementalNew: materialize=false is plan-only (no jobs) and row-identical when executed") {
    import spark.implicits._
    val seen = Seq("k1", "k2", "k3").toDF("key")
    val batch = Seq((10L, "k2"), (11L, "k9"), (13L, "new")).toDF("doc_id", "key")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val plan = Dedup.incrementalNew(batch, seen, "key", materialize = false)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "materialize=false must not run any Spark job")
    val got = plan.select("doc_id").as[Long].collect().sorted
    assert(got sameElements Array(11L, 13L))
  }

  test("bucketPairs: a bucket of exactly maxBucket ids yields all C(n,2) ascending pairs, one more yields none") {
    val cap = 6
    val ids = Seq(5L, 0L, 3L, 1L, 4L, 2L)
    val all = for (i <- 0L until 6L; j <- (i + 1) until 6L) yield (i, j)
    assert(ReferenceForms.bucketPairs(ids.iterator, cap)(identity).toSeq == all)
    assert(ReferenceForms.bucketPairs((ids :+ 6L).iterator, cap)(identity).isEmpty)
    // the payload rides with its id; a hot bucket is read only to cap + 1
    val rows = ReferenceForms.bucketPairs(Iterator((7L, "b"), (2L, "a")), cap)(_._1)
    assert(rows.toSeq == Seq(((2L, "a"), (7L, "b"))))
    val hot = Iterator.range(0, 100).map(_.toLong)
    assert(ReferenceForms.bucketPairs(hot, cap)(identity).isEmpty)
    assert(hot.size == 100 - (cap + 1))
  }

  test("materializing operators release every cache when execution throws") {
    def boom(): Nothing = throw new IllegalStateException("planted row failure")
    val badText = udf((id: Long, t: String) => if (id == 3L) boom() else t)
    // repartitioned: over a bare local relation the optimizer would run the
    // UDF while planning the first persist, before any cache exists
    val bad = docs.repartition(2)
      .select(col("doc_id"), badText(col("doc_id"), col("text")).as("text"))
    val badVec = udf((id: Long, e: Seq[Float]) => if (id == 40L) boom() else e.toArray)
    val badEmb = embeddings.repartition(2).select(col("vec_id"),
      badVec(col("vec_id"), col("embedding")).as("embedding"))
    val cases: Seq[(String, () => Any)] = Seq(
      "minhashPairs" -> (() => Dedup.minhashPairs(bad).collect()),
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(spark, bad)),
      "dupWindowStats" -> (() => Dedup.dupWindowStats(bad, n = 3)),
      "removeDupWindows" -> (() => Dedup.removeDupWindows(bad, n = 3)),
      "dsirWeights" -> (() => ops.Sampling.dsirWeights(bad, bad)),
      "unigramNll" -> (() => ops.Sampling.unigramNll(bad, bad)),
      "nearDupPairsLsh" -> (() =>
        Similarity.nearDupPairsLsh(badEmb, 0.9, dim = 16, bits = 8).collect()),
      "nearDupPairs" -> (() => Similarity.nearDupPairs(badEmb, 0.9)))
    // a failed count can leave a persist marker without a cached RDD, so
    // check both: no cache entry and no new persistent RDD
    spark.catalog.clearCache() // earlier tests leave their results cached
    for ((name, run) <- cases) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[Exception](run())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("planted row failure")),
        s"$name: unexpected error $e")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache entry")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name leaked cached RDDs $leaked")
    }
  }

  /** `docs` and `embeddings` as an sf directory's documents and embeddings
    * tables, for the `SparkEntry` queries. */
  private lazy val sfDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-sf")
    docs.write.parquet(dir.resolve("documents.parquet").toString)
    embeddings.select("vec_id", "embedding").write.parquet(dir.resolve("embeddings.parquet").toString)
    dir.toString
  }

  test("simhashPairs stays lazy: d06 runs its banded exchange once") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val perDoc = SparkEntry.queries("d06_simhash")(spark, sfDir)
    perDoc.collect()
    val plan = perDoc.queryExecution.executedPlan
    // a reused exchange is a leaf here, so each banded shuffle that runs is
    // counted once
    val banded = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM && (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.headOption.exists(_.references.exists(_.name == "_1"))
        case _ => false
      }) => e
    }
    assert(banded.length == 1, plan)
  }

  test("banded near-dup queries build with no job") {
    spark.catalog.clearCache() // earlier tests leave their results cached
    for (q <- Seq("d05_minhash", "d06_simhash", "d15_neardup_lsh")) {
      val (built, jobs) = SparkJobs.counted(spark)(SparkEntry.queries(q)(spark, sfDir))
      assert(built.isSuccess, s"$q: $built")
      assert(jobs == 0, s"building $q started $jobs jobs")
      assert(spark.sharedState.cacheManager.isEmpty, s"building $q left a cache entry")
    }
  }

  test("banded near-dup queries run at most 5 jobs for their fingerprint aggregate") {
    // the signature spread, the bucket pass, the per-id count exchange, the
    // aggregate's exchange and its result: a re-added exchange, count or
    // broadcast is one job more
    for (q <- Seq("d05_minhash", "d06_simhash", "d15_neardup_lsh")) {
      val (fp, jobs) = SparkJobs.counted(spark)(
        SparkEntry.queries(q)(spark, sfDir).agg(bit_xor(xxhash64(struct(col("*"))))).head())
      assert(fp.isSuccess, s"$q: $fp")
      assert(jobs <= 5, s"the fingerprint of $q ran $jobs jobs")
    }
  }

  test("withNearDups over a pair stream equals the groupBy -> left-join form over its distinct pairs") {
    import spark.implicits._
    // unique ids (one may be null) with nullable payload columns; pairs drawn
    // around the base's ids, some outside it, some self-pairs, with repeats
    val base = for {
      ids <- Gen.someOf(0L to 12L)
      withNull <- Gen.oneOf(false, false, true)
      tags <- Gen.listOfN(ids.size + 1, Gen.option(Gen.alphaStr.map(_.take(3))))
      scores <- Gen.listOfN(ids.size + 1, Gen.option(Gen.choose(-5, 5)))
    } yield {
      val keys = ids.toSeq.map(java.lang.Long.valueOf) ++ (if (withNull) Seq(null) else Nil)
      keys.zip(tags).zip(scores).map { case ((k, t), sc) => (k, t, sc) }
    }
    val stream = for {
      ps <- Gen.listOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L), Gen.choose(0, 2)))
      again <- Gen.someOf(ps)
    } yield ps ++ again
    // no shrinking: each candidate runs two Spark queries
    val prop = Prop.forAllNoShrink(base, stream) { (rows, ps) =>
      val b = rows.toDF("id", "tag", "score")
      val p = ps.toDF("a", "b", "w")
      def sorted(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val got = SparkEntry.withNearDups(b, p)
      val want = ReferenceForms.withNearDups(b, p.select("a", "b").distinct())
      Prop(got.columns.toSeq == want.columns.toSeq && sorted(got) == sorted(want)) :|
        s"base=$rows pairs=$ps got=${sorted(got)} want=${sorted(want)}"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(Seed(20261021L)), prop)
    assert(res.passed, res.status.toString)
  }
}
