package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document text-analysis operators (SURVEY §2.G): token counting,
  * quality scoring, language-ID, fingerprinting. All pure column
  * pipelines over the scan — zero shuffles, embarrassingly parallel at
  * any corpus size.
  */
object TextAnalysis {

  /** Token counts: whitespace tokens, BPE-ish lexer tokens, characters. */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      wsTokenCount(col("text")).as("n_ws_tokens"),
      reTokenCount(col("text")).as("n_re_tokens"),
      length(col("text")).as("n_chars"))

  /** Quality scoring from cheap surface statistics (alpha ratio,
    * stopword ratio, length saturation) — the classic pre-filter before
    * expensive model-based scoring of web-scale corpora. */
  def qualityScores(documents: DataFrame): DataFrame = {
    val nTok = wsTokenCount(col("text"))
    val alpha = alphaRatio(col("text"))
    val stopRatio = tokenCountIn(col("text"), Seq("the", "a")) / nTok
    val lenSat = least(lit(1.0), nTok / lit(100.0))
    documents.select(
      col("doc_id"),
      round(alpha, 6).as("alpha_ratio"),
      round(stopRatio, 6).as("stop_ratio"),
      round(lenSat, 6).as("len_sat"),
      round(qualityScore(col("text")), 6).as("quality_score"))
  }

  /** QUALITY-THRESHOLD YIELD CURVE (r9) — the curation-desk question
    * BEFORE anyone picks a cutoff ("what does quality ≥ t cost in
    * tokens?"): at each threshold of the composite
    * [[TextFunctions.qualityScore]], the docs and tokens surviving,
    * as counts and as shares of the corpus. The rule ladder
    * (tx_gopher_rules) kills on hard limits; this curve prices the
    * SOFT score before it becomes pipe_curate's minQuality.
    *
    * Scale shape: rocLadder's discipline — thresholds are a literal
    * ladder, so the whole curve is ONE corpus scan with 2k conditional
    * sums (map-side combined to a 1-row frame, localCheckpoint'd so
    * the per-threshold union fan-out reads the materialized row, not
    * k rescans). Token counts are exact longs; shares divide exact
    * longs at the close. */
  def qualityCurve(documents: DataFrame,
                   // literal decimals, NOT a computed ladder: 0.47+0.03
                   // is 0.49999999999999994 in doubles, and the oracle's
                   // 0.5 literal must compare identically
                   thresholds: Seq[Double] =
                     Seq(0.44, 0.47, 0.50, 0.53, 0.56, 0.59, 0.62))
      : DataFrame = {
    val q = qualityScore(col("text"))
    val ntok = wsTokenCount(col("text")).cast("long")
    def key(t: Double): String = s"${(t * 100).round}"
    val aggCols =
      Seq(count(lit(1)).as("nd"), sum(ntok).as("nt")) ++
      thresholds.flatMap(t => Seq(
        sum(when(q >= t, 1L).otherwise(0L)).as(s"d_${key(t)}"),
        sum(when(q >= t, ntok).otherwise(0L)).as(s"t_${key(t)}")))
    val a = documents.agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(true)
    thresholds.map { t =>
      a.select(lit(t).as("threshold"),
        col(s"d_${key(t)}").as("docs_kept"),
        col(s"t_${key(t)}").as("tokens_kept"),
        round(col(s"d_${key(t)}") / col("nd"), 6).as("doc_share"),
        round(col(s"t_${key(t)}") / col("nt"), 6).as("token_share"))
    }.reduce(_ unionByName _)
  }

  /** GOPHER-style hard rule ladder (Rae et al. 2021 §A1 shape) — the
    * REJECTION companion to [[qualityScores]]' soft scores: each rule
    * is a named boolean gate (word-count bounds, mean-word-length
    * band, alphabetic-word share, longest-token cap) and `keep` is
    * their conjunction, so a curation run can report WHICH rule killed
    * each document, not just a blended score.
    *
    * All ratios divide exact integers (word counts, char counts from
    * one split) so the flags are engine-identical with no rounding
    * tolerance; display columns round after the comparisons. One
    * narrow projection pass, codegen'd higher-order functions, no
    * shuffle at all. */
  def gopherRules(documents: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8, maxWordLen: Int = 25)
      : DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(words).cast("long")
    val nChars = length(regexp_replace(col("text"), " ", ""))
      .cast("long")
    val meanLen = nChars.cast("double") / nWords
    val nAlpha = size(filter(words, w => w.rlike("^[a-z]+$")))
      .cast("long")
    val alphaFrac = nAlpha.cast("double") / nWords
    val longest = array_max(transform(words, w => length(w)))
      .cast("long")
    val pCount = nWords >= minWords && nWords <= maxWords
    val pLen = meanLen >= minMeanLen && meanLen <= maxMeanLen
    val pAlpha = alphaFrac >= minAlphaFrac
    val pLong = longest <= maxWordLen
    documents.select(col("doc_id"), nWords.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(alphaFrac, 4).as("alpha_word_frac"),
      longest.as("longest_word"),
      pCount.as("pass_word_count"), pLen.as("pass_mean_len"),
      pAlpha.as("pass_alpha"), pLong.as("pass_longest"),
      (pCount && pLen && pAlpha && pLong).as("keep"))
  }

  /** TEXTRANK keyword extraction (Mihalcea–Tarau) — PageRank over the
    * word CO-OCCURRENCE graph: a word matters when it co-occurs with
    * words that matter, which surfaces multi-word topical cores that
    * frequency ([[termBurstiness]]) and rarity (TF-IDF) both miss.
    * Graph = distinct adjacent-word pairs (both directions) over the
    * corpus, restricted to words with ≥ `minCount` occurrences (the
    * standard stop-the-tail gate); ranking = the SAME fixed-iteration
    * [[Graph.pageRank]] the graph family runs — one algorithm, two
    * domains — then a (rank, word) TakeOrdered cut.
    *
    * Scale shape: one bigram-explode pass to the distinct edge frame
    * (vocabulary²-bounded, not corpus-bounded), two semi-joins for the
    * frequency gate, and pageRank's node-sized iteration frames. */
  def textRank(documents: DataFrame, minCount: Long = 50,
               topN: Int = 20): DataFrame = {
    val t = tokens(col("text"))
    val freq = documents.select(explode(t).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select("tk")
    val pairs = documents
      .select(explode(bigrams(col("text"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .distinct()
      .join(freq.withColumnRenamed("tk", "w1"), Seq("w1"), "left_semi")
      .join(freq.withColumnRenamed("tk", "w2"), Seq("w2"), "left_semi")
    val edges = pairs.select(col("w1").as("src"), col("w2").as("dst"))
      .unionByName(pairs.select(col("w2").as("src"), col("w1").as("dst")))
    Graph.pageRank(edges)
      .orderBy(col("rank").desc, col("node"))
      .limit(topN)
      .select(col("node").as("word"), col("rank"))
  }

  /** TERM BURSTINESS (Church–Gale) — tf/df per term: a term appearing
    * 400 times in 40 documents (burstiness 10) is topical/bursty; one
    * appearing 400 times in 400 documents is a function word — the
    * dispersion signal raw frequency hides, and the cheap feature
    * behind stopword discovery and keyword weighting beyond TF-IDF's
    * rarity-only view. One token-explode pass to the (doc, term)
    * frame, one term rollup (both map-side combined), TakeOrdered cut
    * with the (ratio, term) total order on exact integers (df·-scaled
    * comparison — no float rank). */
  def termBurstiness(documents: DataFrame, minDf: Long = 20,
                     topN: Int = 20): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    perDoc.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"))
      .filter(col("df") >= minDf)
      // rank on the exact rational tf/df via integer cross-products:
      // order by tf_total*1e6 DIV df (long) then term — engine-stable
      .withColumn("bq",
        expr("tf_total * 1000000 DIV df"))
      .orderBy(col("bq").desc, col("term"))
      .limit(topN)
      .select(col("term"), col("df"), col("tf_total"),
        round(col("tf_total").cast("double") / col("df"), 4)
          .as("burstiness"))
  }

  /** KILL-ATTRIBUTION report over [[gopherRules]] — the curation
    * analytics a rule ladder needs before anyone tunes it: per rule,
    * how many docs FAIL it and how many it UNIQUELY kills (docs every
    * other rule would have kept). A rule with many failures but zero
    * unique kills is redundant; one with many unique kills carries the
    * filter — that distinction decides which thresholds deserve
    * attention. One [[gopherRules]] projection pass, ONE aggregate of
    * conditional counts (map-side combined), the per-rule unpivot
    * happens on the 1-row frame. */
  def killReport(documents: DataFrame): DataFrame = {
    val g = gopherRules(documents)
    val rules = Seq("word_count" -> "pass_word_count",
      "mean_len" -> "pass_mean_len", "alpha" -> "pass_alpha",
      "longest" -> "pass_longest")
    def others(c: String) = rules.collect {
      case (_, o) if o != c => col(o)
    }.reduce(_ && _)
    val aggCols = rules.flatMap { case (name, c) =>
      Seq(sum(when(!col(c), 1L).otherwise(0L)).as(s"nf_$name"),
        sum(when(!col(c) && others(c), 1L).otherwise(0L))
          .as(s"nu_$name"))
    } ++ Seq(count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
    val one = g.agg(aggCols.head, aggCols.tail: _*)
    rules.map { case (name, _) =>
      one.select(lit(name).as("rule"),
        col(s"nf_$name").as("n_failing"),
        col(s"nu_$name").as("n_unique_kill"),
        col("n_docs"), col("n_kept"),
        round(col(s"nf_$name").cast("double") / col("n_docs"), 6)
          .as("fail_share"))
    }.reduce(_.unionByName(_))
  }

  /** Stopword-profile language ID: per-profile overlap scores and a
    * fixed-priority argmax (reference corpus is synthetic; profiles are
    * pluggable — see TextFunctions.langProfiles). */
  def languageId(documents: DataFrame): DataFrame = {
    val scored = langProfiles.foldLeft(documents) { case (df, (name, words)) =>
      df.withColumn(s"s_$name", tokenCountIn(col("text"), words))
    }
    val Seq(sql_, perf, data, en) =
      langProfiles.map { case (n, _) => col(s"s_$n") }
    scored.select(
      col("doc_id"), col("s_sql"), col("s_perf"), col("s_data"), col("s_en"),
      when(sql_ >= perf && sql_ >= data && sql_ >= en, "sql")
        .when(perf >= data && perf >= en, "perf")
        .when(data >= en, "data")
        .otherwise("en").as("pred_lang"))
  }

  /** Content fingerprints: md5 (order-insensitive key for exact dedup)
    * plus a polynomial rolling hash (order-sensitive; Spark-side only —
    * property-tested rather than oracle-checked). */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      contentFingerprint(col("text")).as("fp_md5"))

  def rollingFingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      rollingHash(col("text")).as("fp_roll"))

  /** PII surface detection + redaction (training-data hygiene pass).
    * Patterns kept to RE2-compatible syntax so the DuckDB oracle matches;
    * real deployments extend the pattern set (SSNs, IBANs, …) without
    * touching the plumbing. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "phone" -> "\\+?[0-9][0-9 ()-]{7,}[0-9]",
    "ipv4"  -> "([0-9]{1,3}\\.){3}[0-9]{1,3}")

  def piiScan(documents: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (name, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0))).as(s"n_$name")
    }
    val redacted = piiPatterns.foldLeft(col("text")) { case (c, (_, p)) =>
      regexp_replace(c, p, "[REDACTED]")
    }
    documents.select(
      (col("doc_id") +: counts) :+ length(redacted).as("redacted_len"): _*)
  }

  /** Benchmark-contamination flagging: documents sharing ≥ `minShared`
    * distinct n-gram shingles with any benchmark document (the standard
    * pre-training decontamination check). Benchmark side is broadcast —
    * benchmarks are small; the corpus side streams through. Shingles are
    * matched by their 8-byte native hash (ShingleHashes), never as
    * strings: the broadcast set and the scan-side probe rows are fixed-
    * width ints, and the corpus-side shingle compute runs at hash speed
    * inside the scan. */
  def contamination(documents: DataFrame, benchmark: DataFrame,
                    n: Int, minShared: Int): DataFrame = {
    import graft.plans.ShingleHashes
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def hs = ColumnBridge.column(
      ShingleHashes(ColumnBridge.expression(col("text")), n))
    val docSh = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), explode(hs).as("sk"))
    val benchSh = benchmark.select(explode(hs).as("sk")).distinct()
    docSh
      .join(broadcast(benchSh), "sk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Benchmark DECONTAMINATION — the removal form of [[contamination]]:
    * the corpus with every flagged doc dropped (anti-join on the
    * flagged id set, which is contamination-sized, not corpus-sized).
    * The step that runs between dedup and packing in a training
    * pipeline; same broadcast-benchmark shape, the corpus text streams
    * through once. */
  def decontaminate(documents: DataFrame, benchmark: DataFrame,
                    n: Int, minShared: Int): DataFrame = {
    val flagged = contamination(documents, benchmark, n, minShared)
      .select("doc_id")
    documents.join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_chars")
  }

  /** Within-document repetition signals (the Gopher-style quality
    * filters): duplicate-token fraction and duplicate-2-gram fraction.
    * Pure row-local HOF pipeline — no shuffle, scan-speed at any corpus
    * size; boilerplate/spam pages score high and get filtered before the
    * expensive dedup passes even see them. */
  def repetition(documents: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t)
    documents.select(
      col("doc_id"),
      round(dupWordRatio(col("text")), 6).as("dup_word_ratio"),
      when(n >= 2,
        round(lit(1.0) - size(shingles(col("text"), 2)) / (n - 1), 6))
        .otherwise(0.0).as("dup_2gram_ratio"))
  }

  /** Token Shannon entropy per document — the distribution-shape
    * quality signal (spam/keyword-stuffed pages score near 0, natural
    * prose near log2 of its vocabulary). Row-local HOFs, O(|vocab|·|doc|)
    * per row at scan speed, no shuffle. Each −p·log2(p) term quantizes
    * to integer NANO-units before the fold, so the sum is independent
    * of term order and the DuckDB oracle (which groups tokens in its
    * own order) lands on the identical long — the flip that moved this
    * surface from rows-only to [oracle]. */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("double")
    val termsU = transform(array_distinct(t), x => {
      val c = size(filter(t, y => y === x)).cast("double")
      round(-(c / n) * log2(c / n) * 1e9).cast("long")
    })
    documents.select(
      col("doc_id"),
      size(array_distinct(t)).cast("long").as("n_distinct_tokens"),
      round(aggregate(termsU, lit(0L), (acc, u) => acc + u) / lit(1e9),
        6).as("token_entropy"))
  }

  /** Text normalization pass (lowercase, strip non-alphanumerics,
    * collapse whitespace) with the normalized length and fingerprint —
    * the canonicalization stage upstream of exact dedup. Row-local. */
  def normalize(documents: DataFrame): DataFrame = {
    val norm = normalizedText(col("text"))
    documents.select(
      col("doc_id"),
      length(norm).cast("long").as("n_chars_norm"),
      md5(norm).as("fp_norm"))
  }

  /** Deterministic content-hash train/val/test split: the first hex
    * nibble of the content fingerprint buckets a document 12/2/2
    * (75% / 12.5% / 12.5%) independent of row order, partitioning, or
    * cluster size — the reproducible-split primitive of a training-data
    * pipeline (re-running on a grown corpus never moves an old doc
    * across splits). Row-local; no shuffle, no RNG. */
  def hashSplit(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), hashSplitOf(col("text")).as("split"))

  /** The end-to-end curation pipeline — what actually ships a training
    * corpus: (1) row-local quality gates (composite score ≥ minQuality,
    * duplicate-token fraction ≤ maxDupWordRatio) BELOW the shuffle, so
    * junk never pays shuffle bytes; (2) exact dedup of the survivors on
    * the canonicalized-text fingerprint (one 16-byte-key window
    * shuffle, smallest doc_id kept); (3) deterministic content-hash
    * train/val/test assignment. Output is the admitted corpus manifest.
    * At 100 TB this is one scan + one narrow shuffle; every metric is a
    * codegen'd Column, no UDFs. */
  def curate(documents: DataFrame, minQuality: Double = 0.47,
             maxDupWordRatio: Double = 0.6): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp_norm").orderBy("doc_id")
    Scale.fanOut(documents, Seq("doc_id"))
      .withColumn("quality_score", round(qualityScore(col("text")), 6))
      .withColumn("dup_word_ratio", round(dupWordRatio(col("text")), 6))
      .filter(col("quality_score") >= minQuality &&
        col("dup_word_ratio") <= maxDupWordRatio)
      .withColumn("fp_norm", md5(normalizedText(col("text"))))
      .withColumn("split", hashSplitOf(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("doc_id", "split", "quality_score")
  }

  /** Sequence packing — the concat-and-chunk step between a curated
    * corpus and a training run: documents are laid end-to-end in a
    * deterministic order (doc_id) within each split and cut into fixed
    * `ctxTokens`-token chunks; each doc reports the chunk its first
    * token lands in plus its offset and span.
    *
    * The global running sum is a DISTRIBUTED PREFIX SUM, not one
    * window partition per split (which would serialize a 100 TB corpus
    * onto #splits tasks): [[Stats.stripedPrefix]] per split over
    * monotone doc_id ranges of [[PackStripeDocs]] ids. Output is
    * identical to the single-partition formulation (the DuckDB oracle)
    * for any stripe size. Deterministic: same corpus → same chunks, no
    * RNG. */
  def packSequences(documents: DataFrame, ctxTokens: Long = 2048L)
      : DataFrame = {
    val base = Scale.fanOut(documents, Seq("doc_id"))
      .select(col("doc_id"), hashSplitOf(col("text")).as("split"),
        wsTokenCount(col("text")).cast("long").as("n_tokens"))
    Stats.stripedPrefix(base, expr(s"doc_id div ${PackStripeDocs}L"),
        Seq(col("doc_id")), Seq("n_tokens"), keys = Seq("split"))
      .select(col("doc_id"), col("split"), col("n_tokens"),
        // integer `div`, not double division: token counts at 100 TB
        // overflow double exactness past 2^53
        expr(s"below_n_tokens div ${ctxTokens}L").as("chunk_id"),
        expr(s"below_n_tokens % ${ctxTokens}L").as("chunk_offset"))
  }

  /** Doc ids per stripe of [[packSequences]]' prefix sum. */
  private val PackStripeDocs = 1L << 20

  /** Quality bins of [[tokenBudgetSelect]]'s prefix sum. */
  private[operators] val BudgetStripes = 64

  /** TOKEN-BUDGET selection — "take the best documents until N tokens"
    * (how a training mix is actually drawn from a scored corpus: a
    * budget in tokens, filled in quality order, not a doc-count cap or
    * a rate): docs order by (quality desc, doc_id) and keep while the
    * running token total's START is under budget (the straddling doc is
    * included — the budget bounds where docs BEGIN, the standard
    * fill-then-cut convention shared with packSequences).
    *
    * The running total is the same DISTRIBUTED PREFIX SUM as
    * packSequences ([[Stats.stripedPrefix]]), striped here on the
    * BOUNDED quality domain: 1 − q ∈ [0,1] in [[BudgetStripes]] fixed
    * value-range bins, so stripe order ≡ global quality order by
    * construction. Quality rounds to 6dp BEFORE ordering so both
    * engines walk one global order (doc_id tiebreak). */
  def tokenBudgetSelect(documents: DataFrame, budgetTokens: Long = 9000L)
      : DataFrame = {
    val base = documents.select(col("doc_id"),
        round(qualityScore(col("text")), 6).as("q"),
        wsTokenCount(col("text")).cast("long").as("n_tokens"))
    Stats.stripedPrefix(base,
        Stats.valueStripe(lit(1.0) - col("q"), lit(0.0), lit(1.0),
          BudgetStripes),
        Seq(col("q").desc, col("doc_id")), Seq("n_tokens"))
      .filter(col("below_n_tokens") < budgetTokens)
      .select(col("doc_id"), col("q"), col("n_tokens"),
        (col("below_n_tokens") + col("n_tokens")).as("cum_tokens"))
  }

  /** Jensen–Shannon divergence between two sources' unigram
    * distributions — the symmetric, bounded ([0, ln 2]) corpus-drift
    * measure a mixing pipeline runs before blending sources (KL is
    * infinite on any unshared token; JSD is not). ONE token-count
    * pass pivots to a vocab-sized (token, ca, cb) frame; totals ride
    * back as a 1-row broadcast; the Σ p·ln(p/m) terms run over vocab
    * rows only (st_mi's shape). Zero-count sides contribute only
    * their ln 2 half via the when-guard, never a NaN. */
  def jsDivergence(documents: DataFrame, sa: String, sb: String): DataFrame = {
    val cnt = documents.filter(col("source").isin(sa, sb))
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(sum(when(col("source") === sa, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === sb, 1L).otherwise(0L)).as("cb"))
    val tot = cnt.agg(sum("ca").as("__na"), sum("cb").as("__nb"))
    val p = col("ca").cast("double") / col("__na").cast("double")
    val q = col("cb").cast("double") / col("__nb").cast("double")
    val m = (p + q) / lit(2.0)
    cnt.crossJoin(broadcast(tot))
      .agg(
        sum(when(col("ca") > 0, p * log(p / m)).otherwise(lit(0.0)))
          .as("__kpa"),
        sum(when(col("cb") > 0, q * log(q / m)).otherwise(lit(0.0)))
          .as("__kqb"),
        count(lit(1)).as("n_tokens_shared_vocab"),
        max("__na").as("n_a"), max("__nb").as("n_b"))
      .select(
        round((col("__kpa") + col("__kqb")) / lit(2.0), 6).as("jsd_nats"),
        col("n_tokens_shared_vocab").as("vocab"),
        col("n_a"), col("n_b"))
  }

  /** Windowed PPMI co-occurrence — the word-embedding prep table
    * (GloVe/word2vec's input statistic): for every token pair within
    * `window` positions, positive pointwise mutual information
    * max(0, ln(n_ab·T/(n_a·n_b))) over the symmetric pair counts,
    * top-N strongest associations. The distance-window sibling of
    * [[collocations]] (which sees ADJACENT bigrams only).
    *
    * Scale shape: co-occurrence is NOT a per-doc quadratic self-join —
    * each token emits `window` probe rows (pos+δ), and pairs come from
    * the (doc_id, pos) EQUI-join, linear in corpus×window. Marginals
    * and the grand total are rollups OF the vocab²-bounded pair frame
    * (checkpointed: three consumers), never second corpus passes; the
    * PMI ratio is exact-integer products under one ln, and top-N is
    * TakeOrderedAndProject on the ROUNDED score (engine-stable ties,
    * (a,b) total order). */
  def ppmiCooccurrence(documents: DataFrame, window: Int = 3,
                       topN: Int = 30): DataFrame = {
    val toks = documents.select(col("doc_id"),
      posexplode(split(col("text"), " "))).toDF("doc_id", "pos", "tok")
    val probes = toks
      .select(col("doc_id"), col("tok").as("t1"),
        explode(array((1 to window).map(lit(_)): _*)).as("__d"),
        col("pos"))
      .select(col("doc_id"), col("t1"), (col("pos") + col("__d")).as("pos"))
    val pairsDir = probes.join(
      toks.select(col("doc_id"), col("pos"), col("tok").as("t2")),
      Seq("doc_id", "pos"))
    val cnt = pairsDir.select(col("t1").as("a"), col("t2").as("b"))
      .unionByName(pairsDir.select(col("t2").as("a"), col("t1").as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(true)
    val na = cnt.groupBy("a").agg(sum("n_ab").as("n_a"))
    val nb = na.select(col("a").as("b"), col("n_a").as("n_b"))
    val total = cnt.agg(sum("n_ab").as("__t"))
    cnt.join(broadcast(na), "a").join(broadcast(nb), "b")
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"),
        round(greatest(lit(0.0),
          log((col("n_ab").cast("double") * col("__t").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double")))),
          6).as("ppmi"))
      .orderBy(desc("ppmi"), asc("a"), asc("b"))
      .limit(topN)
  }

  /** Fixed-size overlapping token-window chunking — the
    * retrieval/embedding-prep sibling of [[packSequences]]: packing
    * concatenates docs into context-length rows, chunking SPLITS each
    * doc into `chunkTokens`-token windows advancing by
    * `chunkTokens − overlap` so no boundary sentence is lost. Output:
    * (doc_id, chunk_id, chunk_tokens, chunk_text), chunk windows
    * starting at every multiple of the step below the token count.
    *
    * Scale shape: entirely ROW-LOCAL — split once, explode the start
    * offsets (an int sequence), slice the cached token array per
    * chunk; no shuffle, no window, output rows ∝ corpus tokens /
    * step. The explode fan-out is the partition-size knob
    * (maxPartitionBytes already bounds input rows per task). */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 50,
                     overlap: Int = 10): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val step = chunkTokens - overlap
    documents
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") > 0)
      .select(col("doc_id"), col("__t"), col("__n"),
        explode(sequence(lit(0), col("__n") - 1, lit(step))).as("__s"))
      .select(col("doc_id"),
        (col("__s") / step).cast("long").as("chunk_id"),
        size(slice(col("__t"), col("__s") + 1, lit(chunkTokens)))
          .as("chunk_tokens"),
        array_join(slice(col("__t"), col("__s") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Corpus vocabulary: token (or n-gram) frequencies, top-N with a
    * deterministic tie-break — the vocabulary-building pass of a
    * tokenizer-training pipeline (explode + one shuffle; at 100 TB add a
    * count-min/sample pre-pass if the vocab itself doesn't fit). */
  /** Corpus WORD-LENGTH histogram — the tokenizer-design profile
    * next to [[tokenCounts]]'s per-doc totals (subword vocab sizing
    * and the Gopher mean-word-length band both read this shape; a
    * long-tail spike at the cap is the concatenated-junk signal):
    * whitespace tokens bucketed by length, capped at `cap` (the tail
    * bucket), count + corpus share per bucket. One explode + one
    * partial-agg rollup to a ≤cap-row frame; shares divide exact
    * longs. */
  def wordLengthHistogram(documents: DataFrame, cap: Int = 20)
      : DataFrame = {
    val tf = documents.select(explode(tokens(col("text"))).as("t"))
      .select(least(length(col("t")), lit(cap)).cast("long")
        .as("word_len"))
    val tot = tf.agg(count(lit(1)).as("nt"))
    tf.groupBy("word_len").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("word_len"), col("n"),
        round(col("n").cast("double") / col("nt"), 6).as("share"))
  }

  /** GINI CONCENTRATION of the term-frequency distribution — the
    * single-number companion to [[zipfFit]]'s slope (Zipf says HOW the
    * tail decays; Gini says how much of the token mass the head owns —
    * the diversity budget a dedup/quality pass spends from):
    * G = Σ(2r−V−1)·cᵣ / (V·Σc) over terms ranked ascending by count.
    *
    * NO per-term rank is materialized: a Zipfian vocab defeats both a
    * global rank window (single task) and value-striping (90% of terms
    * share count 1 → one stripe), so the rank SUM folds per COUNT
    * VALUE instead — all k terms sharing count c occupy one contiguous
    * rank block whose Σr = k·off + k(k+1)/2 regardless of intra-block
    * order (their contributions are equal, so the tie order cannot
    * matter), and the cumulative offsets ride a window over the tiny
    * distinct-count frame. One explode + per-term rollup + per-count
    * rollup; exact integers until one double division. */
  def vocabGini(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val tf = documents.select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    val byCount = tf.groupBy("n").agg(count(lit(1)).as("k"))
    val w = Window.orderBy("n")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = byCount
      .withColumn("off", coalesce(sum("k").over(w), lit(0L)))
    val g = tf.agg(count(lit(1)).as("nterms"), sum("n").as("ntok"))
    blocks.crossJoin(broadcast(g))
      // block rank sum: Σ_{r=off+1..off+k} (2r − V − 1) · c
      //               = c · (2(k·off + k(k+1)/2) − k(V+1))
      .agg(max("nterms").as("n_terms"), max("ntok").as("n_tokens"),
        sum(col("n").cast(dec) *
          ((col("k").cast(dec) * col("off").cast(dec) * 2 +
            col("k").cast(dec) * (col("k") + 1).cast(dec)) -
            col("k").cast(dec) * (col("nterms") + 1).cast(dec)))
          .as("gnum"))
      .select(col("n_terms"), col("n_tokens"),
        round(col("gnum").cast("double") /
          (col("n_terms").cast(dec) * col("n_tokens").cast(dec))
            .cast("double"), 6).as("gini"))
  }

  def vocabulary(documents: DataFrame, n: Int, topN: Int): DataFrame = {
    val units =
      if (n == 1) explode(tokens(col("text")))
      else explode(shingles(col("text"), n))
    documents.select(units.as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("gram"))
      .limit(topN)
  }

  /** Per-document top-k terms by TF-IDF (smoothed: idf = ln((N+1)/(df+1))
    * + 1, so corpus-universal terms still score > 0) — the
    * characteristic-term extraction step of search indexing and topic
    * labeling. Deterministic ties (score desc, term asc).
    *
    * Shape: one explode + a (doc_id, term) partial-agg shuffle for tf, a
    * term-keyed partial-agg shuffle for df, an equi-join on term (AQE
    * broadcasts the df side when the vocab is small; shuffle-join
    * otherwise — the vocab of a 100 TB corpus is NOT broadcastable), and
    * a map-side WindowGroupLimit for the top-k. The corpus row count N
    * rides as a scalar subquery, not a driver collect. */
  def tfidfTopTerms(documents: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    val fanned = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
    val termFreq = fanned
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = termFreq.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val n = documents.select(count(lit(1)).as("__n"))
    termFreq.join(docFreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("__n") + 1) / (col("df") + 1)) + 1), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** BM25 keyword retrieval — top-k documents for a bag of query terms
    * (Okapi BM25: idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), the
    * lexical half of every hybrid retrieval stack). Doc lengths are
    * row-local (size of the token array, no second explode); the token
    * explode is FILTERED to the query terms before the shuffle, so the
    * aggregated frame is |queryTerms|-bounded per doc; N and avgdl ride
    * as a 1-row broadcast; top-k is TakeOrdered-sized with a doc_id
    * tiebreak. */
  def bm25TopK(documents: DataFrame, queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val fanned = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
    val withLen = fanned.withColumn("dl", size(tokens(col("text"))))
    val stats = withLen.agg(count(lit(1)).as("__n"),
      avg(col("dl")).as("__avgdl"))
    val tf = withLen
      .select(col("doc_id"), col("dl"),
        explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term").crossJoin(broadcast(stats))
      .withColumn("w",
        log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy("doc_id").agg(round(sum("w"), 6).as("bm25"))
      .orderBy(desc("bm25"), asc("doc_id")).limit(k)
  }

  /** Unigram cross-entropy quality score — the model-based filter of
    * CCNet-style curation with the model that needs no external
    * artifact: the corpus's own Laplace-smoothed unigram distribution.
    * Each doc scores mean −ln p(token) in nats; stopword-heavy boiler
    * text scores LOW, rare-token junk scores HIGH — the tails are the
    * filter targets.
    *
    * Scale shape (same as tfidfTopTerms): the corpus tokenizes ONCE into
    * per-doc term counts — one explode + one (doc_id, term) shuffle; the
    * unigram model is a narrow rollup of that frame, and totals ride as
    * a broadcast 1-row frame. Scoring is a vocab join (AQE broadcasts a
    * small model) + weighted mean: Σ tf·nlp / Σ tf ≡ the per-instance
    * mean without re-exploding. */
  /** Per-doc BIGRAM cross-entropy under the corpus's own add-one-
    * smoothed bigram model: P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) — the
    * context-aware upgrade of [[unigramCrossEntropy]] (CCNet-style LM
    * filtering; catches word-salad that unigram frequencies cannot,
    * since scrambled common words keep their unigram score but lose
    * their bigram mass).
    *
    * One explode pass → (doc, w1, w2, tf); the conditional model is two
    * narrow rollups OF that frame (bigram counts, then context counts
    * as their w1 marginal — no second corpus scan); V rides as a 1-row
    * broadcast. Scoring joins the model back (AQE broadcasts small
    * models) and takes the tf-weighted mean. Docs under 2 tokens have
    * no bigrams and drop, mirroring the oracle. */
  /** Per-source lexical diversity — type-token ratio + hapax share
    * (templated/boilerplate domains score LOW on both; the quick
    * domain-mix health check before training). One explode pass into
    * per-source term counts; everything else is a narrow rollup of
    * that frame. */
  def lexicalDiversity(documents: DataFrame): DataFrame = {
    val fanned = Scale.fanOut(documents.select("source", "text"),
      Seq("source"))
    val tf = fanned
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n"))
    tf.groupBy("source").agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("vocab") / col("n_tokens"), 6).as("ttr"),
        round(col("hapax") / col("vocab"), 6).as("hapax_share"))
  }

  /** Zipf-law fit of the token frequency distribution: OLS slope of
    * ln(freq) ~ ln(rank) over the top-N terms (natural corpora slope
    * ≈ −1; a far-off slope flags synthetic/templated text). The global
    * ranking window runs on a TakeOrdered top-N frame — a CONSTANT-size
    * single partition, so no data-sized global sort ever happens; the
    * fit is one regr_* aggregate over those N rows. */
  def zipfFit(documents: DataFrame, topN: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fanned = Scale.fanOut(documents.select("text"))
    val top = fanned.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topN)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .agg(count(lit(1)).as("n_terms"),
        round(regr_slope(log(col("n")), log(col("rank"))), 6)
          .as("zipf_slope"),
        round(regr_intercept(log(col("n")), log(col("rank"))), 6)
          .as("zipf_intercept"),
        round(regr_r2(log(col("n")), log(col("rank"))), 6).as("r2"))
  }

  /** PMI-scored collocations — the corpus's top bound phrases
    * (ln(c(w1,w2)·N / (c(w1)·c(w2))) over adjacent-pair counts, both
    * unigram marginals DERIVED from the bigram frame, no second scan).
    * One explode pass → checkpointed (w1, w2, n) frame; marginals and
    * the total are narrow rollups of it; the min-count filter kills the
    * rare-pair PMI noise; top-k by (rounded pmi, w1, w2) is fully
    * deterministic and TakeOrdered-sized. */
  def collocations(documents: DataFrame, minCount: Long = 5,
                   k: Int = 20): DataFrame = {
    val fanned = Scale.fanOut(documents.select("text"))
    val t = tokens(col("text"))
    val c2 = fanned
      .select(explode(bigrams(col("text"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // 4 consumers below
    val left = c2.groupBy("w1").agg(sum("n").as("cl"))
    val right = c2.groupBy("w2").agg(sum("n").as("cr"))
    val tot = c2.agg(sum("n").as("__nt"))
    c2.filter(col("n") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n"),
        round(log(col("n") * col("__nt") / (col("cl") * col("cr"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Top-k NEXT-TOKEN table — the exported n-gram LM artifact (the
    * lookup structure an autocomplete / draft-model / perplexity
    * service actually serves): for every context word with ≥ `minCount`
    * continuations, its k most frequent successors with conditional
    * probability P(w2|w1) = n/ctx_n. One bigram explode pass → (w1, w2,
    * n) rollup; the per-context rank filter plans as a map-side
    * WindowGroupLimit (each task keeps ≤ k rows per context before the
    * exchange), ties broken on w2 so the artifact is deterministic. */
  def nextTokenTable(documents: DataFrame, k: Int = 3,
                     minCount: Long = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fanned = Scale.fanOut(documents.select("text"))
    val t = tokens(col("text"))
    val c2 = fanned
      .select(explode(bigrams(col("text"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("w1").orderBy(col("n").desc, col("w2"))
    c2.withColumn("ctx_n", sum("n").over(Window.partitionBy("w1")))
      .filter(col("ctx_n") >= minCount)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("w1"), col("rank"), col("w2"), col("n"),
        round(col("n") / col("ctx_n"), 6).as("p"))
  }

  /** Lateral positional explode — each sampled doc's tokens with their
    * 0-based position (the LATERAL VIEW POSEXPLODE surface). Pure
    * per-row fan-out: no shuffle, position computed inside the generate,
    * parallelism is the scan's. The doc_id stride keeps the output a
    * fixed fraction of the corpus at any scale. */
  def positionalTokens(documents: DataFrame, every: Long = 100L): DataFrame =
    documents.filter(col("doc_id") % every === 0)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))

  def bigramCrossEntropy(documents: DataFrame): DataFrame = {
    val fanned = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
    val bg = fanned
      .select(col("doc_id"),
        explode(bigrams(col("text"))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
      // the plan branches 3 ways from here (score join + the two model
      // rollups); checkpoint so the explode+shuffle runs ONCE, not 3×
      .localCheckpoint(true)
    val c2 = bg.groupBy("w1", "w2").agg(sum("tf").as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    // V = |distinct tokens| without a second full token explode: every
    // token is either some bigram's w1 or its doc's LAST token (the one
    // token of a 1-token doc included), so the union below covers the
    // vocabulary exactly — one row per doc instead of one per token
    val t = tokens(col("text"))
    val vocab = bg.select("w1")
      .union(fanned.select(element_at(t, size(t)).as("w1"))
        .where(size(t) >= 1))
      .agg(countDistinct("w1").as("__v"))
    val nlp = -log((col("c2") + lit(1.0)) / (col("c1") + col("__v")))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        round(sum(col("tf") * nlp) / sum("tf"), 6).as("ce"))
  }

  /** KNESER–NEY bigram cross-entropy per source — the PROPER smoothing
    * upgrade of [[bigramCrossEntropy]]'s add-one LM (the classic
    * failure: Laplace gives "Francisco" high unigram backoff mass even
    * though it only ever follows "San"; KN backs off to CONTINUATION
    * counts — in how many contexts does w start — which is what a
    * curation-grade fluency score needs): interpolated
    * P(w|v) = max(c(vw)−d, 0)/c(v) + d·N₁₊(v·)/c(v) · N₁₊(·w)/N₁₊(··),
    * trained on the md5 80% split, scored on held-out bigrams; unseen
    * context v backs off to the continuation term alone; test bg
    * whose w has NO training continuation mass are counted as n_oov,
    * not scored (documented filter — KN assigns them zero).
    *
    * Scale shape: one bigram-explode pass → checkpointed (source,
    * split, v, w) counts; model frames (c(vw), c(v)+N₁₊(v·), N₁₊(·w),
    * N₁₊(··)) are rollups OF that frame; scoring is three equi-joins on
    * the bigram-type frame, never the corpus. Each −ln P quantizes to
    * integer micro-units per bigram TYPE (multiplied by its exact test
    * count), so the per-source sum is long arithmetic — bit-identical
    * on any partitioning. */
  def knCrossEntropy(documents: DataFrame, d: Double = 0.75): DataFrame = {
    val t = tokens(col("text"))
    val base = Scale.fanOut(documents.select("doc_id", "source", "text"),
        Seq("doc_id"))
      .withColumn("is_train",
        substring(md5(concat(lit("kn"), col("doc_id").cast("string"))),
          1, 2) < "cd")
      .select(col("source"), col("is_train"),
        explode(bigrams(col("text"))).as("b"))
      .select(col("source"), col("is_train"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("source", "is_train", "w1", "w2")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val cb = base.filter(col("is_train"))
      .groupBy("w1", "w2").agg(sum("tf").as("c2"))
      .localCheckpoint(true)
    val cv = cb.groupBy("w1")
      .agg(sum("c2").as("cv"), count(lit(1)).as("nv"))
    val nw = cb.groupBy("w2").agg(count(lit(1)).as("nw"))
    val nb = cb.agg(count(lit(1)).as("nb"))
    val test = base.filter(!col("is_train"))
      .groupBy("source", "w1", "w2").agg(sum("tf").as("cnt"))
    val pcont = col("nw") / col("nb")
    val p = when(col("cv").isNull, pcont)
      .otherwise(
        greatest(coalesce(col("c2"), lit(0L)) - lit(d), lit(0.0)) /
          col("cv") +
          lit(d) * col("nv") / col("cv") * pcont)
    test
      .join(nw, Seq("w2"), "left")
      .join(cv, Seq("w1"), "left")
      .join(cb, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(nb))
      .withColumn("known", col("nw").isNotNull)
      .withColumn("t",
        when(col("known"), round(-log(p) * 1e6).cast("long"))
          .otherwise(0L))
      .groupBy("source")
      .agg(
        sum(when(col("known"), col("cnt")).otherwise(0L)).as("n_bigrams"),
        sum(when(!col("known"), col("cnt")).otherwise(0L)).as("n_oov"),
        round(sum(col("cnt") * col("t")) / 1e6 /
          sum(when(col("known"), col("cnt")).otherwise(0L)), 6).as("ce"))
  }

  /** Per-doc PERPLEXITY with CCNet-style head/middle/tail banding —
    * the operational form of LM-based curation (Wenzek et al., CCNet;
    * ref work/transformer.py filters on heuristics only): ppl =
    * exp(bigram CE), and the corpus splits at the CE tertiles into
    * `head` (most-fluent third, highest-value pretraining data),
    * `middle`, and `tail` (the filter/downweight target). Banding by
    * the corpus's OWN tertiles is the point — it needs no external LM
    * or threshold tuning, and the bands stay meaningful as the corpus
    * drifts.
    *
    * Scale shape: all heavy lifting (token explode, model rollups) is
    * [[bigramCrossEntropy]], already one-pass; the CE frame is one row
    * per DOC (the small frame) and is checkpointed because it feeds
    * both the fence aggregate and the scoring select. Fences ride back
    * as a 1-row broadcast — no data-sized sort, no ntile window. The
    * exact `percentile` over the doc-level frame is the sf-scale
    * oracle contract; at 100 TB swap it for `percentile_approx` or
    * the striped-midrank quantile (Stats.midranks) — band edges move
    * by the sketch error only. Fences and CE are compared ROUNDED to
    * 6 dp so both engines band identically. */
  def perplexityBands(documents: DataFrame): DataFrame = {
    val ce = bigramCrossEntropy(documents).localCheckpoint(true) // 2 consumers
    val fences = ce.agg(
      round(expr("percentile(ce, CAST(1 AS DOUBLE)/3)"), 6).as("__f1"),
      round(expr("percentile(ce, CAST(2 AS DOUBLE)/3)"), 6).as("__f2"))
    ce.crossJoin(broadcast(fences))
      .select(col("doc_id"), col("n_bigrams"), col("ce"),
        round(exp(col("ce")), 4).as("ppl"),
        when(col("ce") <= col("__f1"), lit("head"))
          .when(col("ce") <= col("__f2"), lit("middle"))
          .otherwise(lit("tail")).as("band"))
  }

  def unigramCrossEntropy(documents: DataFrame): DataFrame = {
    val fanned = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
    val termFreq = fanned
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val model = termFreq.groupBy("term").agg(sum("tf").as("c"))
    val totals = model.agg(sum("c").as("__n_total"), count(lit(1)).as("__v"))
    val nlp = -log((col("c") + lit(0.5)) /
      (col("__n_total") + lit(0.5) * col("__v")))
    termFreq.join(model, "term")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        round(sum(col("tf") * nlp) / sum("tf"), 6).as("ce"))
  }

  /** Feature-hashing (hashing-trick) vectorizer — the unbounded-vocab
    * text→sparse-vector step that needs NO fitted dictionary: each
    * token hashes to one of `dim` buckets with a hash-derived ±1 sign
    * (the sign balances collision bias; Weinberger et al.), and a
    * document's vector is the signed count per bucket. md5-derived
    * index and sign so the oracle engine computes the identical
    * mapping. Stateless and row-deterministic: new corpora never
    * reshape old vectors (the property a streaming featurizer needs,
    * unlike a fitted vocabulary). Shuffle carries only (doc_id, idx,
    * ±1-sums) — map-side combined, token payloads never move. Output
    * is the sparse COO form (doc_id, idx, v), zero-sum buckets
    * dropped. */
  def hashFeatures(documents: DataFrame, dim: Int = 1024): DataFrame = {
    val hh = md5(col("tok"))
    val idx = pmod(conv(substring(hh, 1, 4), 16, 10).cast("long"),
      lit(dim.toLong))
    val sgn = when(substring(hh, 5, 1) < "8", 1L).otherwise(-1L)
    Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), idx.as("idx"), sgn.as("s"))
      .groupBy("doc_id", "idx").agg(sum("s").as("v"))
      .filter(col("v") =!= 0L)
  }

  /** The WHOLE curation pipeline as one composite with per-stage row
    * accounting — the end-to-end demo query: raw corpus → exact dedup
    * (keep-min per content fingerprint) → benchmark decontamination →
    * quality gate → train/val/test split, reporting surviving rows at
    * every stage plus the final split sizes. Each stage is the
    * already-audited operator it names (Dedup fingerprint keep,
    * TextAnalysis.contamination, qualityScore/dupWordRatio,
    * Sampling.trainValTestSplit), composed lazily into ONE plan — the
    * accounting unions are agg-sized branches off shared frames, so the
    * pipeline is exactly what a production run executes with counters
    * attached, not a separate audit pass. Near-dedup (MinHash-LSH)
    * slots between stages 1 and 2 when `nearDedup` is set — excluded
    * from the oracle-checked contract (LSH is not SQL-expressible) and
    * exercised by the spec instead. */
  def curationPipeline(documents: DataFrame, benchSource: String = "src0",
                       n: Int = 5, minShared: Int = 10,
                       minQuality: Double = 0.47,
                       maxDupWordRatio: Double = 0.6,
                       nearDedup: Boolean = false): DataFrame = {
    val corpus = documents.filter(col("source") =!= benchSource)
    val bench = documents.filter(col("source") === benchSource)
    val keep = Dedup.dropExactDuplicates(corpus)
      .select(col("keep_id").as("doc_id"))
    val d1 = corpus.join(keep, Seq("doc_id"), "left_semi")
    val d1b =
      if (!nearDedup) d1
      else d1.join(
        Dedup.dupClusters(SketchDedup.minhashLshPairs(d1)
            .select(col("d1"), col("d2")))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select("doc_id"),
        Seq("doc_id"), "left_anti")
    val flagged = contamination(d1b, bench, n, minShared).select("doc_id")
    val d2 = d1b.join(flagged, Seq("doc_id"), "left_anti")
    // compare 6dp-ROUNDED scores (curate's discipline): the gate line
    // is identical in both engines, boundary docs can't flap
    val d3 = d2.filter(round(qualityScore(col("text")), 6) >= minQuality &&
      round(dupWordRatio(col("text")), 6) <= maxDupWordRatio)
    val splits = Sampling.trainValTestSplit(d3, "doc_id")
    def cnt(df: DataFrame, ord: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_rows"))
    cnt(corpus, 0, "ingest")
      .unionByName(cnt(d1b, 1, "exact_dedup"))
      .unionByName(cnt(d2, 2, "decontaminate"))
      .unionByName(cnt(d3, 3, "quality"))
      .unionByName(splits.groupBy("split").agg(count(lit(1)).as("n_rows"))
        .select(when(col("split") === "train", 4)
            .when(col("split") === "val", 5).otherwise(6).as("stage_ord"),
          col("split").as("stage"), col("n_rows")))
  }

  /** Multinomial Naive Bayes language classifier trained AND evaluated
    * on the engine — supervised ML as pure relational algebra (the
    * trained-model sibling of the heuristic [[languageId]]: here the
    * model comes from labeled data, not hand point lists). Train on an
    * md5-hash 80% split (growth-stable — a doc never changes split as
    * the corpus grows), score the held-out 20%, emit the integer
    * confusion matrix.
    *
    * Distributed shape: training is ONE (token, lang) partial-agg pass
    * (model = vocab×k count frame); scoring replicates each test token
    * k ways via a broadcast cross join against the k-row class frame
    * (k is the bounded class count — same cost as an explode at any
    * scale), left-joins the model on (token, lang) — the ONLY
    * data-sized shuffle — and rolls up per (doc, lang).
    *
    * Engine-exactness: per-token Laplace log-likelihoods round to
    * integers at 1e-6 (lp = round(ln((c+1)/(nl+V))·1e6) — the
    * jarque_bera integer discipline applied to NB scoring), so per-doc
    * class scores are EXACT LONG sums: the argmax is deterministic on
    * any engine and any partitioning, no float tolerance anywhere, and
    * the output is all-integer. Ties break to the lexicographically
    * larger lang (max(struct)) — same rule in the oracle.
    *
    * (The synthetic corpus's `lang` label is near-independent of its
    * text — all langs draw one shared vocabulary — so the CONTRACT
    * query's accuracy sits at the majority-class rate BY THE DATA, not
    * the model; the spec trains on a planted separable corpus and
    * demands a diagonal confusion matrix, the same honest-negative
    * pattern as logisticGD.) */
  /** TOKENIZER FERTILITY per language — the multilingual cost metric
    * every shared-vocabulary pipeline budgets by (fertility = lexer
    * tokens per whitespace word; a language whose words shatter into
    * 3× the subword tokens pays 3× the context window and 3× the
    * compute for the same text — THE number behind per-language
    * sampling corrections): per doc, the BPE-ish lexer count
    * ([[graft.functions.TextFunctions.reTokenCount]]) over the
    * whitespace count, micro-quantized per doc BEFORE the language
    * mean (order-free longs). One scan, language-bounded output. */
  def tokenizerFertility(documents: DataFrame): DataFrame =
    documents.select(col("lang"),
        round(reTokenCount(col("text")).cast("double") /
          nullif(wsTokenCount(col("text")).cast("double"), lit(0.0)) *
          1e6).cast("long").as("f6"))
      .filter(col("f6").isNotNull)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("f6").cast("double") / (count(lit(1)) * 1e6), 6)
          .as("fertility"))

  /** DISTINCT-N DIVERSITY of the corpus — the text-generation
    * diversity metric (Li et al.'s distinct-1/2/3) applied where it
    * started mattering most, TRAINING data (a corpus whose trigram
    * occurrences are mostly repeats of few types teaches repetition;
    * the ratio ladder n=1→3 separates small-vocabulary from
    * small-PHRASEBOOK — the latter is the dedup-resistant templating
    * dd_* hash dedup cannot see): per n, distinct n-gram types /
    * total n-gram occurrences. One explode + one (count,
    * countDistinct) rollup per n, unioned into the 3-row report;
    * exact integer counts. */
  def distinctN(documents: DataFrame): DataFrame = {
    def grams(n: Int) =
      if (n == 1) documents.select(explode(tokens(col("text"))).as("g"))
      else documents.select(
        explode(element_at(transform(array(tokens(col("text"))), arr =>
          when(size(arr) < n, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), size(arr) - n),
              i => concat_ws(" ", (1 to n).map(k =>
                element_at(arr, i + k)): _*)))), 1)).as("g"))
    (1 to 3).map { n =>
      grams(n).agg(lit(n.toLong).as("n"),
        count(lit(1)).as("total"),
        countDistinct("g").as("distinct_types"))
    }.reduce(_.unionByName(_))
      .select(col("n"), col("total"), col("distinct_types"),
        round(col("distinct_types").cast("double") / col("total"), 6)
          .as("distinct_ratio"))
  }

  /** GRIES' DP DISPERSION of the head vocabulary across sources — the
    * "is this word EVERYWHERE or just in one corner" statistic raw
    * frequency hides (a token can owe its whole count to a single
    * source; mixing decisions and stopword lists built on frequency
    * alone inherit that blind spot): per top-K token,
    * DP = Σ_s |share_of_token_in_s − share_of_corpus_in_s| / 2 —
    * 0 = distributed exactly like the corpus, →1 = concentrated in
    * one source.
    *
    * One corpus token rollup; the top-K head is a distributed
    * TakeOrdered on (count DESC, token) — deterministic set — joined
    * back to the (token, source)-bounded count frame; each source's
    * |Δ| term quantizes to NANO-units before the per-token sum
    * (order-free longs). */
  def sourceDispersion(documents: DataFrame, k: Int = 10): DataFrame = {
    val tok = documents
      .select(col("source"), explode(tokens(col("text"))).as("t"))
    val bySrc = tok.groupBy("t", "source").agg(count(lit(1)).as("c"))
    val byTok = bySrc.groupBy("t").agg(sum("c").as("ct"))
    val srcTot = tok.groupBy("source").agg(count(lit(1)).as("cs"))
    val grand = tok.agg(count(lit(1)).as("n"))
    val top = byTok.orderBy(col("ct").desc, col("t")).limit(k)
    // the FULL (top-token × source) grid: a source where the token
    // never occurs still contributes |0 − cs/n| to DP
    top.crossJoin(broadcast(srcTot))
      .join(bySrc, Seq("t", "source"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(grand))
      .select(col("t"), col("ct"),
        floor(abs(col("c").cast("double") / col("ct") -
          col("cs").cast("double") / col("n")) * 1e9 + 0.5).cast("long")
          .as("d9"))
      .groupBy("t", "ct")
      .agg(round(sum("d9").cast("double") / 2e9, 6).as("dp"))
      .select(col("t").as("token"), col("ct").as("n_occurrences"),
        col("dp"))
  }

  /** VOCABULARY-BUDGET COVERAGE CURVE — the tokenizer-sizing question
    * asked directly ("what fraction of all token OCCURRENCES does a
    * k-entry vocabulary cover" for a ladder of budgets; the long tail
    * past the chosen k is exactly the text a word-level model will
    * shatter into unknowns): for each budget k, coverage = Σ counts of
    * the top-k tokens by (count DESC, token) — the tiebreak makes the
    * top-k SET deterministic, so both engines price identical
    * vocabularies.
    *
    * Scale shape: one corpus token rollup to the vocab frame, then
    * each budget is a distributed TakeOrdered (orderBy+limit — a
    * proper top-k tree aggregate, NOT a single-partition window over
    * the vocabulary) feeding a 1-row sum; k-ladder union is
    * budget-bounded. Exact integer counts, one division per row. */
  def vocabCoverage(documents: DataFrame,
                    ks: Seq[Int] = Seq(10, 30, 100, 300)): DataFrame = {
    val vc = documents
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = vc.agg(sum("c").as("tt"))
    ks.map { k =>
      vc.orderBy(col("c").desc, col("t")).limit(k)
        .agg(sum("c").as("cv"))
        .select(lit(k.toLong).as("k"), col("cv"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("cv").as("covered"), col("tt").as("total"),
        round(col("cv").cast("double") / col("tt"), 6).as("coverage"))
  }

  /** HEAPS' LAW FIT — the vocabulary-growth exponent (V(N) ≈ K·N^β;
    * tx_coverage prices a vocabulary budget TODAY, Heaps' β says how
    * fast that budget obsoletes as the corpus grows: β near 0.5 is
    * natural text, β near 0 means the source has stopped coining, β
    * near 1 means id-like token pollution a tokenizer must not
    * memorize): vocabulary size V and token count N measured at ten
    * doc-id-ordered checkpoints — V via each token's FIRST document
    * (one gram-keyed min rollup, the tx_novelty machinery: a token
    * counts for every checkpoint after its first doc), N via the
    * per-decile token-count cumsum — then log-log OLS over the
    * 10-point frame with micro-quantized ln terms (exact long sums).
    * Both curves cost one corpus pass each; everything after is
    * decile-bounded. */
  def heapsFit(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nd = documents.agg(count(lit(1)).as("n"))
    val firstDoc = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("g"))
      .groupBy("g").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(nd))
      .groupBy(least(lit(9L),
        floor((col("fd") * 10).cast("double") / col("n")).cast("long"))
        .as("d"))
      .agg(count(lit(1)).as("v_new"))
    val toks = documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long")
        .as("nt"))
      .crossJoin(broadcast(nd))
      .groupBy(least(lit(9L),
        floor((col("doc_id") * 10).cast("double") / col("n"))
          .cast("long")).as("d"))
      .agg(sum("nt").as("t_new"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    // left from the token curve: a decile coining NO new tokens still
    // anchors a checkpoint (v_new 0), else the cumsums misalign
    val pts = toks.join(firstDoc, Seq("d"), "left")
      .na.fill(0L, Seq("v_new"))
      .select(col("d"), sum("v_new").over(w).as("v"),
        sum("t_new").over(w).as("nn"))
      .select(round(log(col("v").cast("double")) * 1e6).cast("long")
        .as("ly"), round(log(col("nn").cast("double")) * 1e6)
        .cast("long").as("lx"))
    val s = pts.agg(count(lit(1)).as("k"),
      sum("lx").as("sx"), sum("ly").as("sy"),
      sum(col("lx") * col("lx")).as("sxx"),
      sum(col("lx") * col("ly")).as("sxy"),
      sum(col("ly") * col("ly")).as("syy"))
    val k = col("k").cast("double")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val (sxx, sxy, syy) = (col("sxx").cast("double"),
      col("sxy").cast("double"), col("syy").cast("double"))
    // nullif guards: a corpus whose vocabulary saturates inside the
    // first decile has ZERO y-variance — beta = 0 is the meaningful
    // answer ("the source stopped coining"), r2 reports null rather
    // than an ANSI divide-by-zero
    val beta = (k * sxy - sx * sy) /
      nullif(k * sxx - sx * sx, lit(0.0))
    val lnk = (sy - beta * sx) / k / 1e6
    val r = (k * sxy - sx * sy) /
      nullif(sqrt((k * sxx - sx * sx) * (k * syy - sy * sy)), lit(0.0))
    s.select(col("k").as("n_points"), round(beta, 6).as("beta"),
      round(lnk, 6).as("ln_k"), round(r * r, 6).as("r2"))
  }

  /** CORPUS NOVELTY CURVE — the diminishing-returns question every
    * data-acquisition decision hangs on ("is the next slice of this
    * source still teaching the model anything, or re-serving what the
    * first slice already covered"): per doc, the fraction of its
    * DISTINCT trigrams first seen in THAT doc (gram's min doc_id over
    * the ingestion order), averaged per doc-id decile. A flat-high
    * curve = keep ingesting; a curve collapsing toward 0 = the source
    * is exhausted and further ingestion only feeds the dedup stage.
    *
    * Scale shape: one trigram explode (split evaluated ONCE per row —
    * the r9 lambda-binding discipline) to the distinct (doc, gram)
    * frame, one gram-keyed min rollup, one join back, decile-bounded
    * output. Per-doc ratios quantize to micro-units before the decile
    * mean (order-free longs). Docs under 3 tokens have no trigrams
    * and drop — both engines, documented. */
  def trigramNovelty(documents: DataFrame): DataFrame = {
    val tri = documents.select(col("doc_id"),
        explode(element_at(transform(array(tokens(col("text"))), arr =>
          when(size(arr) < 3, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), size(arr) - 3),
              i => concat_ws(" ", element_at(arr, i + 1),
                element_at(arr, i + 2), element_at(arr, i + 3))))), 1))
          .as("g"))
      .distinct()
    val first = tri.groupBy("g").agg(min("doc_id").as("fd"))
    val perDoc = tri.join(first, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ng"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
          .as("nv"))
    val nd = documents.agg(count(lit(1)).as("n"))
    perDoc.crossJoin(broadcast(nd))
      .select(least(lit(9L), expr("(doc_id * 10) div n")).as("decile"),
        floor(col("nv").cast("double") / col("ng") * 1e6 + 0.5)
          .cast("long")
          .as("q6"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("q6").cast("double") / (count(lit(1)) * 1e6), 6)
          .as("novelty"))
  }

  def naiveBayesLangEval(documents: DataFrame): DataFrame = {
    val split2 = substring(
      md5(concat(lit("nb"), col("doc_id").cast("string"))), 1, 2)
    val docs = documents.select(col("doc_id"), col("lang"), col("text"),
      (split2 < "cd").as("is_train"))
    val tok = docs.select(col("doc_id"), col("lang"), col("is_train"),
      explode(split(col("text"), " ")).as("tok"))
    val train = tok.filter(col("is_train"))
    // model: per-(token, lang) counts, materialized ONCE (r16): the
    // per-lang token totals and the vocab size are exact folds OF tc
    // (nl = Σc per lang, V = |distinct tok|), so deriving them from
    // the checkpointed (token, lang)-sized frame removes two full
    // tokenize+explode passes over the corpus — train tokens are
    // scanned once at any scale. Values identical by construction.
    val tc = train.groupBy("tok", "lang").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val lt = tc.groupBy("lang").agg(sum("c").as("nl"))
    val vocab = tc.select("tok").distinct().agg(count(lit(1)).as("v"))
    val langTotals = lt.crossJoin(vocab)
      .select(col("lang"), col("nl"), col("v"),
        round(log((lit(1.0)) / (col("nl") + col("v"))) * 1e6)
          .cast("long").as("lp_unseen"))
    val model = tc.join(langTotals.select("lang", "nl", "v"), "lang")
      .select(col("tok"), col("lang"),
        round(log((col("c") + lit(1.0)) / (col("nl") + col("v"))) * 1e6)
          .cast("long").as("lp"))
    // integer log-priors from train doc counts
    val trainDocs = docs.filter(col("is_train"))
    val nTrain = trainDocs.agg(count(lit(1)).as("n_train"))
    val priors = trainDocs.groupBy("lang")
      .agg(count(lit(1)).as("nd")).crossJoin(broadcast(nTrain))
      .select(col("lang"),
        round(log(col("nd").cast("double") / col("n_train")) * 1e6)
          .cast("long").as("lp_prior"))
    val langs = langTotals.select(col("lang").as("cls"), col("lp_unseen"))
    // score: every held-out token × every class (k-way lit explode),
    // model left-join fills seen tokens, class default covers the rest
    val scored = tok.filter(!col("is_train"))
      .crossJoin(broadcast(langs))
      .join(model.withColumnRenamed("lang", "cls"), Seq("tok", "cls"),
        "left")
      .groupBy(col("doc_id"), col("lang").as("true_lang"), col("cls"))
      .agg(sum(coalesce(col("lp"), col("lp_unseen"))).as("ll"))
      .join(broadcast(priors.withColumnRenamed("lang", "cls")), "cls")
      .withColumn("score", col("ll") + col("lp_prior"))
    val pred = scored.groupBy("doc_id", "true_lang")
      .agg(max(struct(col("score"), col("cls"))).getField("cls")
        .as("pred_lang"))
    pred.groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
  }

  /** DATA-SCALING CURVE for the NB classifier (r9 — "how much does
    * MORE DATA buy" measured, not assumed: the empirical scaling-law
    * artifact every corpus-budget meeting wants, next to pipe_budget's
    * token accounting): train [[naiveBayesLangEval]]'s multinomial NB
    * on nested md5-threshold fractions of the corpus (~10/20/40/80% —
    * nested by construction, so each point ADDS data to the previous
    * one exactly as a crawl would), score the SAME fixed 20% held-out
    * split at every point, and report the accuracy ladder.
    *
    * Shape: the fraction dimension rides a 4-row broadcast cross join
    * into the one (token, lang) training pass — model frames are
    * 4×vocab×k, scoring joins on (frac, token, class); everything
    * stays the ml_nb relational algebra with one extra bounded key.
    * Same exact-integer scoring discipline (1e-6-rounded Laplace
    * log-likelihoods, EXACT LONG per-doc sums, max(struct) tie to the
    * larger class) — deterministic on any engine/partitioning.
    *
    * (Same honest-negative note as ml_nb: the synthetic corpus's lang
    * is near-independent of its text, so the CONTRACT curve is flat
    * at the majority rate — that flatness is the measurement. The
    * spec plants a separable corpus and demands the curve climb.) */
  def dataScalingCurve(documents: DataFrame,
                       fractions: Seq[(String, String)] = Seq(
                         ("f10", "1a"), ("f20", "33"),
                         ("f40", "66"), ("f80", "cd"))): DataFrame = {
    import documents.sparkSession.implicits._
    val frDf = broadcast(fractions.toDF("frac", "thresh"))
    val split2 = substring(
      md5(concat(lit("nb"), col("doc_id").cast("string"))), 1, 2)
    val docs = documents.select(col("doc_id"), col("lang"), col("text"),
      split2.as("h2"))
    val tok = docs.select(col("doc_id"), col("lang"), col("h2"),
      explode(split(col("text"), " ")).as("tok"))
    val trainTok = tok.crossJoin(frDf).filter(col("h2") < col("thresh"))
    val tc = trainTok.groupBy("frac", "tok", "lang")
      .agg(count(lit(1)).as("c"))
    val lt = trainTok.groupBy("frac", "lang").agg(count(lit(1)).as("nl"))
    val vocab = trainTok.groupBy("frac")
      .agg(countDistinct("tok").as("v"))
    val ltv = lt.join(vocab, "frac")
      .select(col("frac"), col("lang"), col("nl"), col("v"),
        round(log(lit(1.0) / (col("nl") + col("v"))) * 1e6)
          .cast("long").as("lp_unseen"))
    val model = tc.join(ltv.select("frac", "lang", "nl", "v"),
        Seq("frac", "lang"))
      .select(col("frac"), col("tok"), col("lang").as("cls"),
        round(log((col("c") + lit(1.0)) / (col("nl") + col("v"))) * 1e6)
          .cast("long").as("lp"))
    val trainDocs = docs.crossJoin(frDf).filter(col("h2") < col("thresh"))
    val ntr = trainDocs.groupBy("frac").agg(count(lit(1)).as("n_train"))
    val priors = trainDocs.groupBy("frac", "lang")
      .agg(count(lit(1)).as("nd"))
      .join(ntr, "frac")
      .select(col("frac"), col("lang").as("cls"),
        round(log(col("nd").cast("double") / col("n_train")) * 1e6)
          .cast("long").as("lp_prior"))
    val cls = ltv.select(col("frac"), col("lang").as("cls"),
      col("lp_unseen"))
    val pred = tok.filter(col("h2") >= lit("cd"))
      .crossJoin(broadcast(cls))
      .join(model, Seq("frac", "tok", "cls"), "left")
      .groupBy(col("frac"), col("doc_id"), col("lang").as("true_lang"),
        col("cls"))
      .agg(sum(coalesce(col("lp"), col("lp_unseen"))).as("ll"))
      .join(broadcast(priors), Seq("frac", "cls"))
      .withColumn("score", col("ll") + col("lp_prior"))
      .groupBy("frac", "doc_id", "true_lang")
      .agg(max(struct(col("score"), col("cls"))).getField("cls")
        .as("pred_lang"))
    pred.groupBy("frac")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("true_lang") === col("pred_lang"), 1L)
          .otherwise(0L)).as("n_correct"))
      .join(ntr, "frac")
      .select(col("frac"), col("n_train"), col("n_test"),
        col("n_correct"),
        round(col("n_correct").cast("double") / col("n_test"), 6)
          .as("accuracy"))
  }

  /** VOCABULARY RICHNESS: Good–Turing missing mass + bias-corrected
    * Chao1 — "how much vocabulary has this corpus NOT seen yet": the
    * singleton share N₁/N is the probability the next token is a
    * brand-new type (Good–Turing), and Chao1 = V + N₁(N₁−1)/(2(N₂+1))
    * estimates the total type count including the unseen tail from
    * just the singleton/doubleton spectrum. The corpus-planning number
    * ("will another crawl still grow the vocab") next to
    * [[jsDivergence]]'s drift and tx_lexdiv's hapax share. One token
    * pass to the vocab-sized count frame, one spectrum rollup. */
  def vocabularyRichness(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    tf.agg(sum("n").as("n_tokens"), count(lit(1)).as("vocab"),
      sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
      sum(when(col("n") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("n_tokens"), col("vocab"), col("n_hapax"),
        col("n_dis"),
        round(col("n_hapax").cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0)), 6)
          .as("missing_mass"),
        // floor convention (Exact.scala): h(h-1)/(2(d+1)) is a small-
        // denominator rational — it lands exactly on the 2dp half
        // whenever (d+1) | 2·10², where engine round() conventions split
        (floor((col("vocab") +
          (col("n_hapax") * (col("n_hapax") - 1)).cast("double") /
          (lit(2.0) * (col("n_dis") + 1))) * 100 + 0.5) / 100)
          .as("chao1"))
  }

  /** LIFT / CUMULATIVE-GAINS table for a document score — "if I only
    * keep the top decile by quality, how much richer in the target
    * class is it than a random slice" (the eval artifact behind every
    * threshold-picking meeting; st_avg_precision integrates the curve,
    * this TABLE is what gets argued over). Deciles come from the
    * DISTRIBUTED striped rank over (score desc, doc_id) — never a
    * single-task ntile over the corpus (the ml_ece_adaptive
    * convention; r12 conversion — this was the one corpus-
    * proportional global window left in the tx_* family): rank r,
    * decile = 1 + (r−1)·10 div n, identical integer arithmetic in the
    * DuckDB twin, ties pinned on doc_id so they cannot wander between
    * engines — and lift = decile positive rate / base rate, with the
    * cumulative variant (top-k deciles pooled) riding a running-sum
    * window over the 10-row frame. */
  def liftTable(documents: DataFrame, positiveLang: String = "en")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rank by (q desc, doc_id) == (0−q asc, doc_id); 0.0−q (not −q)
    // keeps a q of +0.0 from flipping to −0.0 under negation.
    // localCheckpoint: stripedRank's bounds/offsets/rank branches plus
    // the count would each re-run the qualityScore scan (Catalyst
    // recomputes shared subtrees per branch) — materialize the scored
    // frame ONCE (r12 verdict item 5: measured 1.57 → 0.69 s isolated
    // at sf0.1)
    val base = documents.select(
      round(qualityScore(col("text")), 6).as("q"), col("doc_id"),
      when(col("lang") === positiveLang, 1L).otherwise(0L).as("pos"))
      .withColumn("__negq", lit(0.0) - col("q"))
      .localCheckpoint(true)
    // count + stripe bounds in ONE pass over the checkpoint; __nd rides
    // the bounds broadcast into the ranked frame
    val pre = base.agg(min("__negq").as("__lo"), max("__negq").as("__hi"),
      count(lit(1)).as("__nd"))
    val scored = Stats.stripedRankWith(base, "__negq", "doc_id", pre)
      .withColumn("decile", expr("1 + (r - 1) * 10 div __nd"))
      .drop("r", "__negq", "__nd")
    // 10-row frame consumed twice (rows + its own total) — pin it so
    // the rank join doesn't re-run for the 1-row total
    val perDecile = scored.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
      .localCheckpoint(true)
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    perDecile
      .crossJoin(broadcast(perDecile.agg(
        sum("n").as("gn"), sum("n_pos").as("gp"))))
      .select(col("decile").cast("long").as("decile"), col("n"),
        col("n_pos"),
        round(col("n_pos").cast("double") / col("n") /
          (col("gp").cast("double") / col("gn")), 6).as("lift"),
        round(sum("n_pos").over(w).cast("double") / sum("n").over(w) /
          (col("gp").cast("double") / col("gn")), 6).as("cum_lift"))
      .orderBy("decile")
  }

  /** PADDING-EFFICIENCY report for length-bucketed batch inference —
    * the serving-side complement of [[packSequences]] (training packs
    * sequences back-to-back; inference pads every sequence in a batch
    * to a common length, and the padding is pure wasted FLOPs): docs
    * bucket to the next power-of-two capacity, per bucket the report
    * shows docs, real tokens, and waste = 1 − tokens/(docs·cap), with
    * the unbucketed baseline (everything padded to the global max)
    * riding every row for the "bucketing buys X" comparison.
    *
    * Scale: token counts are row-local; one partial-agg rollup to the
    * ≤log₂(maxlen)-sized bucket frame; the global max joins back as a
    * 1-row broadcast. The capacity ladder is a fixed integer CASE —
    * no float log2, so bucket edges are engine-exact. Docs longer than
    * the largest cap go to a dedicated OVERFLOW bucket whose cap is
    * their true max length (folding them into caps.max would report
    * max_tokens > cap and a negative waste — misstating serving cost). */
  def padEfficiency(documents: DataFrame,
                    caps: Seq[Int] = Seq(32, 64, 128, 256, 512, 1024,
                      2048, 4096)): DataFrame = {
    val n = wsTokenCount(col("text")).cast("long")
    val cap = caps.reverse.tail.foldLeft(
      when(n > caps.max, lit(-1L)).otherwise(lit(caps.max.toLong))) {
      (acc, c) => when(n <= c, c.toLong).otherwise(acc)
    }
    val perBucket = documents
      .select(cap.as("bucket_cap"), n.as("nt"))
      .groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        max("nt").as("max_tokens"))
      // overflow sentinel resolves to the bucket's own true max length
      .withColumn("bucket_cap",
        when(col("bucket_cap") === -1L, col("max_tokens"))
          .otherwise(col("bucket_cap")))
    val g = perBucket.agg(sum("n_docs").as("gd"), sum("n_tokens").as("gt"),
      max("max_tokens").as("gm"))
    perBucket.crossJoin(broadcast(g))
      .select(col("bucket_cap"), col("n_docs"), col("n_tokens"),
        round(lit(1.0) - col("n_tokens").cast("double") /
          (col("n_docs") * col("bucket_cap")), 6).as("padding_waste"),
        round(lit(1.0) - col("gt").cast("double") /
          (col("gd") * col("gm")), 6).as("unbucketed_waste"))
      .orderBy("bucket_cap")
  }

  /** FLESCH READING-EASE per source — the document-complexity lens the
    * quality score (tx_quality) doesn't have: 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words), with sentences = [.!?]+ runs
    * (min 1) and syllables ≈ vowel-group count ([aeiouy]+ runs — the
    * standard cheap proxy, documented; both engines run the identical
    * character-class regex so counts agree exactly). Training mixtures
    * tune on exactly this axis (a corpus drifting "difficult" reads
    * differently than one drifting short). Per source: doc count, mean
    * score (1e4-quantized integer sums — per-doc scores are
    * deterministic doubles from exact integer counts), and the
    * easy(≥70)/standard(50–70)/difficult(<50) band counts. One
    * row-local scan, one partial-agg rollup to the sources frame. */
  def readability(documents: DataFrame): DataFrame = {
    val w = wsTokenCount(col("text")).cast("long")
    val sents = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val syl = regexp_count(lower(col("text")), lit("[aeiouy]+"))
      .cast("long")
    val flesch = lit(206.835) -
      lit(1.015) * (w.cast("double") / sents) -
      lit(84.6) * (syl.cast("double") / w)
    documents
      .select(col("source"), flesch.as("f"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(round(col("f") * 10000).cast("long")).as("__s"),
        sum(when(col("f") >= 70, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("f") >= 50 && col("f") < 70, 1L).otherwise(0L))
          .as("n_standard"),
        sum(when(col("f") < 50, 1L).otherwise(0L)).as("n_difficult"))
      .select(col("source"), col("n_docs"),
        round(col("__s").cast("double") / (col("n_docs") * 10000.0), 4)
          .as("avg_flesch"),
        col("n_easy"), col("n_standard"), col("n_difficult"))
  }

  /** BURROWS' DELTA stylometric distance between sources — the
    * authorship-attribution classic: per-source rates of the corpus's
    * most-frequent words (function words dominate any top-k and carry
    * style, not topic), z-scored per word ACROSS sources, delta =
    * mean |z₁ − z₂| over the word panel. Near-zero delta between two
    * "different" sources is the same-crawler/same-template signal a
    * provenance audit looks for; the closest pairs surface first.
    *
    * Scale: one token pass builds the top-k panel (bounded, broadcast)
    * and per-source totals; the rate matrix is sources×k (dense — a
    * source missing a panel word scores rate 0, which is exactly the
    * stylistic signal); z and the pair join live entirely on that
    * bounded matrix, never on tokens. Source count is assumed
    * report-sized (the matrix is sources², documented).
    *
    * EXACT-INTEGER discipline end to end (r13 — the seed-45 sf0.05
    * gate caught the round6(avg(float)) class here: the pair mean
    * summed ulp-level doubles in aggregation order under a 1e-6
    * round): rates are exact e6-unit longs (one half-up integer
    * division), per-word moments are exact integer power sums
    * (decimal(38,0)), each z carries an exact integer NUMERATOR over a
    * shared per-word double denominator, the pair terms quantize to
    * nano-units BEFORE the order-independent long sum, and ONE half-up
    * integer division closes to e6. Zero-variance panel words drop
    * from every pair mean (sd > 0 filter — both sides of a pair drop
    * together, so the per-pair panel count stays well-defined). The
    * DuckDB twin spells identical arithmetic. */
  def burrowsDelta(documents: DataFrame, topWords: Int = 20,
                   topPairs: Int = 10): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val toks = documents.select(col("source"),
      explode(tokens(col("text"))).as("w"))
    val mfw = broadcast(toks.groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("w")).limit(topWords).select("w"))
    val totals = toks.groupBy("source").agg(count(lit(1)).as("nt"))
    val counts = toks.join(mfw, "w")
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    // rate in exact e6 units of tokens-per-thousand: round(c·1e9/nt)
    // half-up as one integer division (c·2e9 fits a long for corpora
    // to ~4·10⁹ tokens/source; beyond that rescale to decimal(38,0)
    // per the giniStump recipe)
    val dense = totals.crossJoin(mfw)
      .join(counts, Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        expr("(coalesce(c, 0) * 2000000000 + nt) div (2 * nt)")
          .as("rate_e6"))
    val wstats = dense.groupBy("w")
      .agg(count(lit(1)).as("ns"), sum("rate_e6").as("s1"),
        sum(col("rate_e6").cast(dec) * col("rate_e6").cast(dec)).as("s2"))
      .select(col("w"), col("ns"), col("s1"),
        sqrt((col("ns").cast(dec) * col("s2") -
          col("s1").cast(dec) * col("s1").cast(dec)).cast("double") /
          (col("ns") * (col("ns") - 1))).as("sd"))
      .filter(col("sd") > 0)
    // z = (ns·rate − S1) / (ns·sd): exact long numerator, shared
    // per-word double denominator
    val z = dense.join(broadcast(wstats), "w")
      .select(col("source"), col("w"),
        (col("ns") * col("rate_e6") - col("s1")).as("znum"),
        (col("ns") * col("sd")).as("zden"))
    z.as("a").join(z.as("b"),
      col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"),
        floor(abs(col("a.znum") - col("b.znum")).cast("double") /
          col("a.zden") * 1e9 + 0.5).cast("long").as("t"))
      .groupBy("s1", "s2")
      .agg(sum("t").as("st"), count(lit(1)).as("k"))
      .select(col("s1"), col("s2"),
        (expr("(2 * st + k * 1000) div (2 * k * 1000)").cast("double") /
          1e6).as("delta"))
      .orderBy(asc("delta"), asc("s1"), asc("s2"))
      .limit(topPairs)
  }

  /** RAKE keyword extraction (Rose et al. 2010 — rapid automatic
    * keyword extraction, the unsupervised keyphrase baseline TextRank
    * is usually benchmarked against): candidate phrases are the maximal
    * stopword-free token runs, each word scores deg/freq (deg = Σ
    * length of the phrases it appears in — words that live in LONG
    * phrases carry more structure), and a phrase scores the sum of its
    * member word scores. High scorers are multi-word domain phrases;
    * tx_tfidf can't see them because it never leaves the unigram grid.
    *
    * Determinism/scale: phrase runs come from the gaps-and-islands
    * trick (pos − row_number over the doc's non-stop tokens — constant
    * within a run, jumps at each stopword) on the per-doc window
    * exchange every doc-ordered text op pays; word scores quantize to
    * micro-units (round(deg·1e6/freq) — exact integer) BEFORE the
    * per-phrase sum so the unordered float-sum trap never opens; the
    * top-N cut orders on the exact score then the phrase total order.
    * Word-score and phrase frames are vocab-/phrase-bounded; only the
    * token explode is corpus-sized. */
  def rakeKeywords(documents: DataFrame,
                   stopwords: Seq[String] = Seq("a", "the"),
                   topN: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"),
      posexplode(split(col("text"), " "))).toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
    val nst = toks.filter(!col("word").isInCollection(stopwords))
    val runs = nst.withColumn("grp", col("pos") -
      row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    val member = runs.withColumn("plen",
      count(lit(1)).over(Window.partitionBy("doc_id", "grp")))
    val wordScores = member.groupBy("word")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("word"),
        round(col("deg") * 1e6 / col("freq")).cast("long").as("ws6"))
    val phrases = member.join(wordScores, "word")
      .groupBy(col("doc_id"), col("grp"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x("word")), " ").as("phrase"),
        sum("ws6").as("score6"))
    phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max("score6").as("score6"))
      .orderBy(desc("score6"), asc("phrase"))
      .limit(topN)
      .select(col("phrase"), col("n_occurrences"),
        round(col("score6") / 1e6, 6).as("score"))
  }

  /** PER-SOURCE BOILERPLATE profile — the CCNet/RefinedWeb curation
    * step doc-level dedup cannot do (a crawl source stamps the same
    * footer/nav/disclaimer n-gram runs on MOST of its pages; the docs
    * are not near-duplicates of each other, but a quarter of every
    * doc is the same furniture — and a model trained on it memorizes
    * the furniture): a 5-gram is BOILERPLATE within its source when
    * it appears in more than `hotShare` of the source's documents
    * (sources with fewer than `minDocs` docs are exempt — a 2-doc
    * source would flag everything). Output per doc: distinct 5-grams,
    * how many are boilerplate, and the share — the strip decision
    * ("drop these grams before tokenization") reads directly off it.
    *
    * Scale shape: one explode to DISTINCT (source, doc, gram) rows,
    * ONE (source, gram) rollup for the df census (partial-agg'd),
    * source doc counts ride a broadcast-sized frame, and the hot set
    * joins back AT THE GRAM KEY — the same bounded-join discipline as
    * the dedup census (no pair join anywhere; this is linear in
    * postings). Gram strings stay strings here because the SQL twin
    * must recompute them; the production path swaps in ShingleHashes
    * (8-byte keys) with the same plan shape. */
  def boilerplateProfile(documents: DataFrame, n: Int = 5,
                         hotShare: Double = 0.25,
                         minDocs: Long = 8L): DataFrame = {
    val toks = split(col("text"), " ")
    val grams = documents
      // filter BEFORE the explode: sequence(0, size-n) on a short doc
      // would generate a DESCENDING index range (Spark's sequence
      // semantics), not an empty one
      .filter(size(toks) >= n)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))).as("g"))
      .distinct()
    val srcDocs = documents.groupBy("source")
      .agg(countDistinct("doc_id").as("src_docs"))
    val hot = grams.groupBy("source", "g")
      .agg(count(lit(1)).as("df"))
      .join(broadcast(srcDocs), Seq("source"))
      .filter(col("src_docs") >= minDocs &&
        col("df") > col("src_docs") * hotShare)
      .select(col("source"), col("g"), lit(1).as("__hot"))
    grams.join(hot, Seq("source", "g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hot"), lit(0))).cast("long").as("n_boiler"),
        round(sum(coalesce(col("__hot"), lit(0))) /
          count(lit(1)).cast("double"), 6).as("boiler_share"))
  }
}
