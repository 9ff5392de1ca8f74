package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.TextFunctions.{hashSplitOf, wsTokenCount}
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {

  test("exactStats finds injected duplicates") {
    val docs = Tables.documents(spark, sf)
    val withDups = docs.unionByName(docs.limit(5)) // plant 5 exact dups
    val r = Dedup.exactStats(withDups).first()
    val n = docs.count()
    assert(r.getAs[Long]("n_docs") == n + 5)
    assert(r.getAs[Long]("n_dup_docs") >= 5)
  }

  test("dropExactDuplicates keeps smallest doc_id and is idempotent") {
    val docs = Tables.documents(spark, sf)
    val withDups = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 10000))
    val kept = Dedup.dropExactDuplicates(withDups)
    assert(kept.count() == docs.count())
    assert(kept.agg(max("keep_id")).first().getLong(0) < 10000)
  }

  test("duplicatedSpans: cross-doc, within-doc, and gap-split islands") {
    import spark.implicits._
    val docs = Seq(
      (1L, "p q r s t u v"),          // "p q r","q r s" dup'd vs doc 2
      (2L, "z z p q r s y"),          // hits at pos 2,3
      (3L, "m m m m m m"),            // within-doc repeat: all 4 grams
      (4L, "p q r a1 b1 c1 d1 p q r") // two islands: gap 7 > k=3
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, k = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_tokens"))).toSet
    assert(spans == Set(
      (1L, 0L, 3L, 4L),  // "p q r s"
      (2L, 2L, 5L, 4L),
      (3L, 0L, 5L, 6L),  // the whole self-repeating doc
      (4L, 0L, 2L, 3L), (4L, 7L, 9L, 3L)))
  }

  test("duplicatedSpans: unique corpus yields no spans, short docs safe") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "e f g h"), (3L, "x y")) // doc 3 < k
    assert(Dedup.duplicatedSpans(docs.toDF("doc_id", "text"), k = 3).count() == 0)
  }

  test("ngramJaccardPairs surfaces planted near-duplicates symmetric in [0,1]") {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, sf), 3, 0.2).collect()
    pairs.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.2 && j <= 1.0)
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
    }
  }

  test("stop-shingle ceiling bounds the planted-hot-shingle bucket and " +
      "drops it from both intersection and sizes") {
    import spark.implicits._
    // 40 docs share ONE boilerplate shingle ("the same footer"); each
    // also carries a unique tail so no doc is a duplicate of another.
    // Uncapped, that single bucket emits 40·39/2 = 780 join rows; with
    // maxDf=10 the hot shingle leaves the similarity universe entirely.
    val docs = (1L to 40L).map(i =>
      (i, s"the same footer u$i v$i w$i x$i y$i z$i")).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs, 3, 0.0, maxDf = 10)
    // with the footer shingle ("the same footer") excluded, the docs
    // share NOTHING (per-doc tails are disjoint) → zero candidate pairs
    assert(capped.count() == 0L, "hot bucket must not generate candidates")
    // two planted real near-dups still surface, with sizes counted over
    // the FILTERED universe: doc 41/42 share their entire tail
    val docs2 = docs.unionByName(Seq(
      (41L, "the same footer a b c d e f"),
      (42L, "the same footer a b c d e g")).toDF("doc_id", "text"))
    val p = Dedup.ngramJaccardPairs(docs2, 3, 0.0, maxDf = 10)
      .filter(col("d1") === 41L && col("d2") === 42L).collect()
    assert(p.length == 1)
    // kept shingles per doc: 8 tokens of tail + footer boundary grams.
    // "the same footer a b c d e f": grams = (the same footer)[HOT],
    // (same footer a), (footer a b), (a b c), (b c d), (c d e),
    // (d e f|g) → 6 kept each, 5 shared → J = 5/(6+6-5)
    assert(p.head.getAs[Long]("shared") == 5L)
    assert(math.abs(p.head.getAs[Double]("jaccard") - 5.0 / 7.0) < 1e-6)
    // default ceiling (1000) never binds at test scale: same output as
    // an effectively-uncapped run on the real corpus
    val real = Tables.documents(spark, sf)
    val a = Dedup.ngramJaccardPairs(real, 3, 0.2).collect().toSet
    val b = Dedup.ngramJaccardPairs(real, 3, 0.2, maxDf = Int.MaxValue)
      .collect().toSet
    assert(a == b, "default cap must not bind at test SF")
  }

  test("cdcChunks: boundaries re-sync after a prepend; chunks tile the gram stream") {
    import spark.implicits._
    val body = (0 until 200).map(i => s"w${i * 7 % 97}x$i").mkString(" ")
    val shifted = "alpha beta gamma delta " + body
    val docs = Seq((1L, body), (2L, shifted)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    // chunks tile the positional-gram stream exactly: Σ n_tokens = T−k+1
    assert(byDoc(1L).map(_.getAs[Long]("n_tokens")).sum == 200 - 4 + 1)
    assert(byDoc(2L).map(_.getAs[Long]("n_tokens")).sum == 204 - 4 + 1)
    // SHIFT RESISTANCE: the 4-token prepend changes every offset, but
    // every chunk of doc1 from its first boundary on re-appears in doc2
    // verbatim — fixed-size chunking would lose all of them
    def ordered(id: Long) = byDoc(id).sortBy(_.getAs[Long]("start_tok"))
      .map(_.getAs[Long]("chunk_hash")).toSeq
    val tail1 = ordered(1L).drop(1)
    assert(tail1.nonEmpty, "test corpus must produce several chunks")
    assert(tail1.forall(ordered(2L).toSet.contains),
      "post-boundary chunks must survive the prepend unchanged")
    // the shared-chunk report surfaces exactly that overlap
    val shared = Dedup.sharedChunks(docs).collect()
    assert(shared.nonEmpty && shared.forall(_.getAs[Long]("n_docs") == 2L))
    assert(shared.map(_.getAs[Long]("chunk_hash")).toSet
      .subsetOf(ordered(1L).toSet.intersect(ordered(2L).toSet)))
    // sub-k-token docs produce no grams and no chunks, never crash
    assert(Dedup.cdcChunks(Seq((9L, "a b")).toDF("doc_id", "text"))
      .count() == 0)
  }

  test("rollingHash is deterministic and content-sensitive") {
    val fp = TextAnalysis.rollingFingerprints(Tables.documents(spark, sf))
    val a = fp.orderBy("doc_id").collect()
    val b = TextAnalysis.rollingFingerprints(Tables.documents(spark, sf))
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
    assert(a.map(_.getAs[Long]("fp_roll")).distinct.length > a.length / 2)
  }

  test("quality scores are bounded in [0,1]") {
    TextAnalysis.qualityScores(Tables.documents(spark, sf)).collect().foreach { r =>
      val q = r.getAs[Double]("quality_score")
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("qualityCurve: kept counts fall monotonically; trivial thresholds keep everything") {
    import spark.implicits._
    // two docs far apart on the composite score: a stop-word-rich long
    // one (high) and a digit-heavy short one (low alpha ratio)
    val docs = Seq(
      (1L, ("the a " * 60).trim),
      (2L, "123 456 789 000")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityCurve(docs,
      thresholds = Seq(0.0, 0.5, 0.99)).collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("docs_kept"), r.getAs[Long]("tokens_kept"),
          r.getAs[Double]("token_share"))).toMap
    assert(out(0.0) == ((2L, 124L, 1.0)), s"$out")
    assert(out(0.5) == ((1L, 120L, math.rint(120.0 / 124 * 1e6) / 1e6)),
      s"only the stopword doc clears 0.5: $out")
    assert(out(0.99)._1 == 0L && out(0.99)._3 == 0.0)
    // monotone by construction on the real corpus
    val real = TextAnalysis.qualityCurve(Tables.documents(spark, sf))
      .orderBy("threshold").collect().map(_.getAs[Long]("docs_kept"))
    assert(real.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("rakeKeywords: stopwords split phrases, deg/freq favors words in " +
      "long phrases, repeated phrases aggregate") {
    import spark.implicits._
    // doc 1: phrases [fast spark query] x2 split by 'the'/'a';
    // doc 2: the singleton [fast] — pulls fast's freq up, deg/freq down
    val docs = Seq(
      (1L, "fast spark query the fast spark query"),
      (2L, "a fast")).toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeywords(docs).collect()
      .map(r => r.getAs[String]("phrase") ->
        (r.getAs[Long]("n_occurrences"), r.getAs[Double]("score"))).toMap
    // word scores: fast deg=3+3+1=7 freq=3 -> 7/3; spark=deg 6 freq 2
    // -> 3; query -> 3; phrase score = 7/3 + 3 + 3
    assert(out.keySet == Set("fast spark query", "fast"), s"$out")
    assert(out("fast spark query")._1 == 2L)
    assert(out("fast spark query")._2 ==
      math.rint((7.0 / 3 + 6.0) * 1e6) / 1e6, s"$out")
    assert(out("fast")._1 == 1L &&
      out("fast")._2 == math.rint(7.0 / 3 * 1e6) / 1e6)
    // multi-word phrases outscore their member unigrams by construction
    assert(out("fast spark query")._2 > out("fast")._2)
  }

  test("dataScalingCurve: nested fractions grow the train set and climb " +
      "accuracy on a separable planted corpus") {
    import spark.implicits._
    // two langs with disjoint 30-word vocabularies; each doc draws 3
    // words from its lang's pool — a small train fraction has seen only
    // part of the pool, so held-out docs made of unseen words fall back
    // to priors; more data covers more vocabulary
    val docs = (0 until 240).map { i =>
      val lang = if (i % 2 == 0) "aa" else "bb"
      val words = (0 until 3).map(j => s"w${(i * 7 + j * 11) % 30}_$lang")
      (i.toLong, words.mkString(" "), lang, "s0", 10)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.dataScalingCurve(docs).collect()
      .map(r => r.getAs[String]("frac") ->
        (r.getAs[Long]("n_train"), r.getAs[Double]("accuracy"))).toMap
    assert(out.keySet == Set("f10", "f20", "f40", "f80"), s"$out")
    // nested thresholds -> strictly growing train sets
    assert(out("f10")._1 < out("f20")._1 &&
      out("f20")._1 < out("f40")._1 && out("f40")._1 < out("f80")._1,
      s"$out")
    // the curve climbs: full-coverage training classifies the held-out
    // split (near-)perfectly, the starved model can't
    assert(out("f80")._2 >= 0.9, s"$out")
    assert(out("f80")._2 >= out("f10")._2, s"$out")
  }

  test("dedupCurve: tighter thresholds drop fewer docs; exact yields on " +
      "a planted near-dup + weak-overlap corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"), // exact copy: j = 1.0
      (3L, "x1 x2 x3 x4 y5 y6 y7 y8 y9 y10"), // 2 shared shingles: j = 1/7
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")  // unique
    ).toDF("doc_id", "text")
    val out = Dedup.dedupCurve(docs).collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("docs_dropped"),
          r.getAs[Long]("tokens_dropped"),
          r.getAs[Double]("kept_token_share"))).toMap
    // τ=0.1 catches (1,2), (1,3), (2,3): docs 2 and 3 drop, half the
    // corpus tokens go
    assert(out(0.1) == ((3L, 2L, 20L, 0.5)), s"$out")
    // τ≥0.2 keeps only the exact copy pair — doc 2 alone drops
    assert(out(0.2) == ((1L, 1L, 10L, 0.75)), s"$out")
    assert(out(0.7) == ((1L, 1L, 10L, 0.75)), s"$out")
    // monotone: rising τ never drops MORE
    val byT = out.toSeq.sortBy(_._1).map(_._2._2)
    assert(byT.sliding(2).forall(p => p(0) >= p(1)), s"$byT")
  }

  test("containment catches a short doc quoted in a long one that Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " " + (1 to 60).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, "totally unrelated words " +
      "about nothing shared with either document at all here")).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, 3, 0.9).collect()
    assert(cont.exists(r => r.getAs[Long]("d1") == 1L && r.getAs[Long]("d2") == 2L
      && r.getAs[Double]("cont_1_in_2") >= 0.9),
      "quoted doc not caught by containment")
    assert(!cont.exists(r => r.getAs[Long]("d2") == 3L || r.getAs[Long]("d1") == 3L))
    // symmetric Jaccard on the same pair is small — the case this exists for
    val jac = Dedup.ngramJaccardPairs(docs, 3, 0.0)
      .filter(col("d1") === 1L && col("d2") === 2L).collect()
    assert(jac.head.getAs[Double]("jaccard") < 0.2)
  }

  test("tfidfTopTerms: k rows per doc; ubiquitous terms score below rare ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the dog ran"), (3L, "the fox hid")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, 2).collect()
    assert(out.groupBy(_.getAs[Long]("doc_id")).forall(_._2.length == 2))
    // 'the' (df=3) must never outrank the doc-unique terms (df=1, same tf)
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      assert(rows.forall(_.getAs[String]("term") != "the"))
    }
    val full = TextAnalysis.tfidfTopTerms(graft.Tables.documents(spark, sf), 3)
    assert(full.groupBy("doc_id").count()
      .filter(col("count") > 3).isEmpty)
  }

  test("langid covers all profiles deterministically") {
    val out = TextAnalysis.languageId(Tables.documents(spark, sf))
    val langs = out.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("sql", "perf", "data", "en")))
  }

  test("LSH bucket candidates are a subset of brute-force ranking order") {
    val emb = Tables.embeddings(spark, sf)
    val planes = SimilaritySearch.seededPlanes(4, 64)
    val lsh = SimilaritySearch.lshTopK(emb, 0L, 10, planes)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    val brute = SimilaritySearch.bruteForceTopK(emb, 0L, 200)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    // every LSH hit must carry the same cosine the exact scan computed
    lsh.foreach { case (id, c) =>
      assert(!brute.contains(id) || math.abs(brute(id) - c) < 1e-9)
    }
    assert(lsh.nonEmpty)
  }

  test("keepCanonical keeps the best-quality doc per cluster and all unclustered docs") {
    import spark.implicits._
    val docs = Seq(
      // one near-dup cluster of three (identical text, different ids)
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again today"),
      // unclustered singletons
      (4L, "completely different content about streams batches and vectors here"),
      (5L, "another unrelated document with its own words nothing shared at all")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val kept = Dedup.keepCanonical(docs, Dedup.ngramJaccardPairs(docs, 3, 0.2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // identical text → equal quality → tie-break keeps the smallest id
    assert(kept == Set(1L, 4L, 5L))
  }

  test("keepCanonical prefers the higher quality score over the smaller id") {
    import spark.implicits._
    // same 10-token core so the pair clears jaccard >= 0.2; doc 11 drags
    // its alpha ratio (and thus quality) down with digit noise
    val core = "the quick brown fox jumps over the lazy dog today"
    val docs = Seq(
      (11L, core + " 000 111 222 333 444 555"),
      (12L, core)
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val q = TextAnalysis.qualityScores(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(q(12L) > q(11L), s"test setup: expected doc 12 higher quality, got $q")
    val kept = Dedup.keepCanonical(docs, Dedup.ngramJaccardPairs(docs, 3, 0.2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L))
  }

  test("keepCanonical with no dup pairs keeps every document") {
    import spark.implicits._
    val docs = Seq(
      (1L, "first unrelated content entirely"),
      (2L, "second document with different words")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val kept = Dedup.keepCanonical(docs, Dedup.ngramJaccardPairs(docs, 3, 0.2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("repetition flags repeated tokens and 2-grams, zero for unique text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all tokens here are unique words")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Double]("dup_word_ratio") == 0.75)
    assert(math.abs(r(0).getAs[Double]("dup_2gram_ratio") - 0.666667) < 1e-9)
    assert(r(1).getAs[Double]("dup_word_ratio") == 0.0)
    assert(r(1).getAs[Double]("dup_2gram_ratio") == 0.0)
  }

  test("normalize canonicalizes case, punctuation and whitespace") {
    import spark.implicits._
    val docs = Seq(
      (1L, "  Hello,   WORLD!! 123 "),
      (2L, "hello world 123")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.normalize(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_chars_norm") == 15L)
    // both normalize to the same canonical form → same fingerprint
    assert(r(0).getString(2) == r(1).getString(2))
  }

  test("hashSplit is deterministic, total, and roughly 12/2/2") {
    val docs = Tables.documents(spark, sf)
    val s1 = TextAnalysis.hashSplit(docs).orderBy("doc_id").collect()
    val s2 = TextAnalysis.hashSplit(docs).orderBy("doc_id").collect()
    assert(s1.sameElements(s2))
    val byDocId = s1.map(_.getString(1)).groupBy(identity).view.mapValues(_.length)
    assert(byDocId.keys.toSet.subsetOf(Set("train", "val", "test")))
    val n = s1.length.toDouble
    assert(byDocId("train") / n > 0.5, s"train fraction suspiciously low: $byDocId")
  }

  test("tokenEntropy: zero for constant docs, log2(n) for uniform, bounded otherwise") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "one two three four"),
      (3L, "a a b b c c d d")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tokenEntropy(docs).orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("token_entropy")).toMap
    assert(r(1L) == 0.0)
    assert(math.abs(r(2L) - 2.0) < 1e-9) // 4 uniform tokens → log2(4)
    assert(math.abs(r(3L) - 2.0) < 1e-9) // 4 uniform pairs → log2(4)
    // real corpus: bounded by log2(distinct)
    TextAnalysis.tokenEntropy(Tables.documents(spark, sf)).collect().foreach { row =>
      val h = row.getAs[Double]("token_entropy")
      val d = row.getAs[Long]("n_distinct_tokens")
      assert(h >= 0.0 && h <= math.log(d.toDouble) / math.log(2.0) + 1e-6,
        s"doc ${row.getLong(0)}: H=$h distinct=$d")
    }
  }

  test("packSequences tiles each split contiguously with in-range offsets") {
    val packed = TextAnalysis.packSequences(Tables.documents(spark, sf), 512L)
      .orderBy("split", "doc_id").collect()
    assert(packed.nonEmpty)
    packed.groupBy(_.getAs[String]("split")).foreach { case (_, rows) =>
      var expectedStart = 0L
      rows.foreach { r =>
        val start = r.getAs[Long]("chunk_id") * 512L + r.getAs[Long]("chunk_offset")
        assert(start == expectedStart, s"doc ${r.getLong(0)} leaves a gap")
        assert(r.getAs[Long]("chunk_offset") >= 0 &&
          r.getAs[Long]("chunk_offset") < 512L)
        expectedStart += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("packSequences distributed prefix sum is stripe-size invariant") {
    // stripe-size invariance: StripedPrefixSpec, on this frame; here the
    // output must equal the single-partition-per-split window form
    val docs = Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("split", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("split").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = docs.select(col("doc_id"), hashSplitOf(col("text")).as("split"),
        wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("b", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("split"), col("n_tokens"),
        expr("b div 512L").as("chunk_id"), expr("b % 512L").as("chunk_offset"))
    assert(rows(TextAnalysis.packSequences(docs, 512L)).sameElements(rows(ref)))
  }

  test("dupRateBySource counts cross-source copies for both feeds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", "A"), (2L, "same text", "A"), // A duplicates itself
      (3L, "same text", "B"),                         // B copies A's text
      (4L, "unique here", "B")
    ).toDF("doc_id", "text", "source")
    val r = Dedup.dupRateBySource(docs).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("A").getAs[Long]("n_docs") == 2L)
    assert(r("A").getAs[Long]("n_in_dup_groups") == 2L)
    assert(r("A").getAs[Double]("dup_rate") == 1.0)
    assert(r("B").getAs[Long]("n_in_dup_groups") == 1L,
      "B's copy of A's text must count against B")
    assert(r("B").getAs[Double]("dup_rate") == 0.5)
  }

  test("jsDivergence: identical sources 0, disjoint vocabularies ln 2") {
    import spark.implicits._
    val same = Seq((1L, "a b c", "src0"), (2L, "a b c", "src1"))
      .toDF("doc_id", "text", "source")
    val r0 = TextAnalysis.jsDivergence(same, "src0", "src1").collect().head
    assert(r0.getAs[Double]("jsd_nats") == 0.0)
    val disjoint = Seq((1L, "a a b", "src0"), (2L, "x y z", "src1"))
      .toDF("doc_id", "text", "source")
    val r1 = TextAnalysis.jsDivergence(disjoint, "src0", "src1")
      .collect().head
    assert(math.abs(r1.getAs[Double]("jsd_nats") - math.log(2)) < 1e-6,
      "zero-overlap sources must hit the ln 2 ceiling")
    assert(r1.getAs[Long]("vocab") == 5L)
  }

  test("ppmiCooccurrence: uniform triple scores ln 1.5; window bounds pairs") {
    import spark.implicits._
    // "x y z": 3 directed in-window pairs → 6 symmetric rows, each
    // n_ab=1, marginals 2, T=6 → ppmi = ln(6/4) everywhere
    val r = TextAnalysis.ppmiCooccurrence(
      Seq((1L, "x y z")).toDF("doc_id", "text")).collect()
    assert(r.length == 6)
    assert(r.forall(_.getAs[Long]("n_ab") == 1L))
    assert(r.forall(_.getAs[Double]("ppmi") == 0.405465))
    // distance > window never pairs: (a,e) is 4 apart, (a,d) is 3
    val pairs = TextAnalysis.ppmiCooccurrence(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), topN = 100)
      .collect().map(x => (x.getAs[String]("a"), x.getAs[String]("b"))).toSet
    assert(pairs.contains(("a", "d")) && !pairs.contains(("a", "e")))
  }

  test("chunkDocuments windows overlap correctly and reconstruct at overlap 0") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    // chunk 3, overlap 1 → step 2: starts 0,2,4,6 → sizes 3,3,3,1
    val ch = TextAnalysis.chunkDocuments(docs, chunkTokens = 3, overlap = 1)
      .orderBy("chunk_id").collect()
    assert(ch.map(_.getAs[Long]("chunk_id")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(ch.map(_.getAs[Int]("chunk_tokens")).toSeq == Seq(3, 3, 3, 1))
    assert(ch.map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("a b c", "c d e", "e f g", "g"))
    // zero overlap: chunks partition the doc — concatenation round-trips
    val noOv = TextAnalysis.chunkDocuments(docs, chunkTokens = 3, overlap = 0)
      .orderBy("chunk_id").collect().map(_.getAs[String]("chunk_text"))
    assert(noOv.mkString(" ") == "a b c d e f g")
  }

  test("reweightByCluster: cluster mass sums to 1, singletons keep weight 1") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "n_chars_x")
      .select(col("doc_id"))
    val pairs = Seq((1L, 2L)).toDF("d1", "d2")
    val rows = Dedup.reweightByCluster(docs, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Double]("weight"))).toMap
    assert(rows(1L) == (2L, 0.5) && rows(2L) == (2L, 0.5))
    assert(rows(3L) == (1L, 1.0), "unclustered doc must keep full weight")
  }

  test("bruteForceTopK is the true top-k (cross-checked against full sort)") {
    val emb = Tables.embeddings(spark, sf)
    import graft.functions.VectorFunctions.cosine
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    val full = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("qe")), 4).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
      .collect().map(_.getAs[Long]("vec_id"))
    val topk = SimilaritySearch.bruteForceTopK(emb, 0L, 10)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(topk.sameElements(full))
  }

  test("bm25TopK: hand-scored two-doc case — rarity and saturation behave") {
    import spark.implicits._
    // corpus: doc 0 has the query term twice in 4 tokens, doc 1 once in
    // 4, doc 2 none. N=3, df=2, avgdl=4 → idf = ln((3-2+0.5)/2.5 + 1)
    // = ln(1.6); dl/avgdl = 1 so the length normalizer is k1 exactly.
    val docs = Seq(
      (0L, "cat dog cat bird"),
      (1L, "cat fish worm slug"),
      (2L, "dog bird worm slug")).toDF("doc_id", "text")
    val out = Stats2.collectBm25(docs)
    val idf = math.log(1.6)
    val w2 = idf * (2.0 * 2.2) / (2.0 + 1.2) // tf=2
    val w1 = idf * (1.0 * 2.2) / (1.0 + 1.2) // tf=1
    assert(out == Seq(0L -> round6(w2), 1L -> round6(w1)))
    assert(w2 < 2 * w1, "tf saturation: doubling tf must not double score")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private object Stats2 {
    def collectBm25(docs: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      TextAnalysis.bm25TopK(docs, Seq("cat"), 10)
        .collect().toSeq.map(r => r.getLong(0) -> r.getDouble(1))
  }

  test("hybridRrf: single-modality hits fuse at 1/(60+rank); overlap adds") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
    val fused = SimilaritySearch.hybridRrf(docs, emb, 0L,
      Seq("vector", "hash", "merge"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(fused.length == 10)
    // scores are non-increasing and the max possible RRF is 2/61
    assert(fused.map(_._2).sliding(2).forall(p => p.head >= p.last))
    assert(fused.head._2 <= 2.0 / 61 + 1e-9)
    // determinism: a second run fuses identically
    val again = SimilaritySearch.hybridRrf(docs, emb, 0L,
      Seq("vector", "hash", "merge"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(fused.sameElements(again))
  }

  test("lexicalDiversity: unique-word source scores TTR 1, repeated-word 1/n") {
    import spark.implicits._
    val docs = Seq(("rich", "a b c d"), ("poor", "x x x x"))
      .toDF("source", "text")
    val got = TextAnalysis.lexicalDiversity(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
          r.getAs[Double]("ttr"), r.getAs[Double]("hapax_share")))).toMap
    assert(got("rich") == ((4L, 4L, 1.0, 1.0)))
    assert(got("poor") == ((4L, 1L, 0.25, 0.0)))
  }

  test("zipfFit recovers slope -1 / r2 1 on an exactly Zipfian corpus") {
    import spark.implicits._
    // freq(rank r) = 60/r exactly for r = 1..6: ln f = ln60 - ln r
    val counts = Seq("a" -> 60, "b" -> 30, "c" -> 20, "d" -> 15,
      "e" -> 12, "f" -> 10)
    val text = counts.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val r = TextAnalysis.zipfFit(Seq(text).toDF("text")).collect().head
    assert(r.getAs[Long]("n_terms") == 6L)
    assert(r.getAs[Double]("zipf_slope") == -1.0)
    assert(r.getAs[Double]("r2") == 1.0)
    assert(math.abs(r.getAs[Double]("zipf_intercept") - math.log(60)) < 1e-6)
  }

  test("curationPipeline: monotone stage accounting; planted dups and near-dups drop") {
    import spark.implicits._
    val good = "the data table holds a value row and the scan reads a " +
      "hash key for the merge batch while the sort window keeps a part"
    def doc(id: Long, text: String, source: String = "srcA") =
      (id, text, "en", source, text.length.toLong)
    val docs = (Seq(
      doc(1, good),
      doc(2, good),                       // exact dup of 1
      doc(3, good + " extra tail words"), // near-dup of 1 (not exact)
      doc(4, "the value row and a hash key for the data batch while a " +
        "scan merge keeps the sort table part and the window reads a row"),
      doc(5, "zzz qqq xxx")               // fails the quality gate
    ) ++ Seq(doc(90, "benchmark shingle " + good, "src0")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def stages(nearDedup: Boolean): Map[String, Long] =
      TextAnalysis.curationPipeline(docs, benchSource = "src0",
        minShared = 30, nearDedup = nearDedup)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val s = stages(nearDedup = false)
    assert(s("ingest") == 5L)
    assert(s("exact_dedup") == 4L, s"exact dup must drop: $s")
    assert(s("quality") < s("decontaminate"), s"doc 5 must fail quality: $s")
    def splitSum(m: Map[String, Long]) =
      m.getOrElse("train", 0L) + m.getOrElse("val", 0L) +
        m.getOrElse("test", 0L)
    assert(splitSum(s) == s("quality"),
      "splits must partition the survivors exactly")
    // the LSH stage additionally removes the planted near-dup
    val sn = stages(nearDedup = true)
    assert(sn("exact_dedup") == s("exact_dedup") - 1,
      s"near-dup must drop once LSH is on: $sn vs $s")
    assert(splitSum(sn) == sn("quality"))
  }

  test("tokenBudgetSelect: quality order, straddler included, stripe-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // quality is dominated by the length-saturation term here: longer
    // docs (more "the a" + alpha) score higher; craft three tiers
    def doc(id: Long, words: Int) =
      (id, Seq.fill(words)("the").mkString(" "))
    val docs = Seq(doc(1, 90), doc(2, 60), doc(3, 30), doc(4, 10))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    // budget 160: takes 90, then 60 (cum 150), then 30 STARTS at 150
    // < 160 → straddler included; 10 starts at 180 → out
    val sel = TextAnalysis.tokenBudgetSelect(docs, budgetTokens = 160L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cum_tokens")).toMap
    assert(sel.keySet == Set(1L, 2L, 3L), s"budget cut wrong: $sel")
    assert(sel(3L) == 180L, "running total counts the straddler fully")
    // stripe-count invariance: StripedPrefixSpec, on this frame
  }
}
