package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2.G).
  *
  * Exact dedup groups on a content fingerprint (one shuffle of 16-byte
  * keys, never of document bodies). N-gram Jaccard is the exact
  * pairwise baseline: shingle-explode → shingle-join → per-pair overlap
  * count. It is quadratic in the worst case — MinHash-LSH (see
  * MinHashLSH) is the scale path; this operator is the ground truth the
  * sketch variants are validated against.
  */
object Dedup {

  /** Corpus-level exact-duplicate stats on the normalized-text md5. */
  def exactStats(documents: DataFrame): DataFrame =
    documents
      .select(contentFingerprint(col("text")).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"))
      .withColumn("n_dup_docs", col("n_docs") - col("n_distinct"))

  /** DUPLICATE-CLUSTER-SIZE HISTOGRAM — the duplication PROFILE
    * [[exactStats]]'s single dup count hides ("5% duplicated" means
    * something very different when it is one document copied 50k
    * times vs 25k near-disjoint pairs — the first is a boilerplate
    * page to kill at the source, the second is organic re-posting for
    * the dedup stage): per exact-fingerprint cluster size k, how many
    * clusters and what share of all DOCUMENTS sits in size-k clusters.
    * One fingerprint rollup, one size-keyed re-aggregate
    * (histogram-bounded output), exact integer counts. */
  def dupSizeHistogram(documents: DataFrame): DataFrame = {
    val sizes = documents
      .select(contentFingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("k"))
    val tot = sizes.agg(sum("k").as("n_docs"))
    sizes.groupBy("k").agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("k").as("cluster_size"), col("n_clusters"),
        (col("k") * col("n_clusters")).as("n_docs_in"),
        round((col("k") * col("n_clusters")).cast("double") /
          col("n_docs"), 6).as("doc_share"))
  }

  /** Per-source exact-duplication report — WHICH feed is polluting the
    * corpus (the segmentation a curation pipeline runs right after
    * [[exactStats]] says there IS duplication): for each source, its
    * doc count and how many of its docs are copies of a fingerprint
    * seen anywhere in the corpus more than once (cross-source copies
    * count for both sources). ONE fingerprint rollup (fp-keyed shuffle
    * carrying per-source counts as a tiny pivot via the grouped
    * source column), then a source-count-sized re-aggregate. */
  def dupRateBySource(documents: DataFrame): DataFrame = {
    val perFp = documents
      .select(col("source"), contentFingerprint(col("text")).as("fp"))
      .groupBy("fp", "source").agg(count(lit(1)).as("c"))
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    perFp
      .withColumn("__tot", sum("c").over(wFp))
      .groupBy("source")
      .agg(sum("c").as("n_docs"),
        sum(when(col("__tot") > 1, col("c")).otherwise(0L))
          .as("n_in_dup_groups"))
      .select(col("source"), col("n_docs"), col("n_in_dup_groups"),
        round(col("n_in_dup_groups") / col("n_docs"), 6).as("dup_rate"))
  }

  /** PREFIX-DUPLICATE groups — the boilerplate-header detector between
    * exact dedup (whole-body fingerprint) and the shingle family
    * (any-position overlap): documents sharing their first `prefixLen`
    * characters verbatim are template copies / navigation-chrome
    * clones even when their tails diverge, and exact dedup misses them
    * by construction. Groups on md5 of the prefix — one 16-byte-key
    * shuffle, never the bodies — and reports only groups of ≥ 2 with
    * the canonical (smallest) doc id. */
  def prefixDupGroups(documents: DataFrame, prefixLen: Int = 64)
      : DataFrame =
    documents
      .select(md5(substring(col("text"), 1, prefixLen)).as("prefix_hash"),
        col("doc_id"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
      .filter(col("n_docs") > 1)

  /** Representative picking: smallest doc_id kept per fingerprint group;
    * returns the deduplicated corpus. One shuffle on the 16-byte
    * fingerprint (row_number window) — the groupBy-then-join-back
    * formulation shuffles the corpus twice and re-scans it. */
  def dropExactDuplicates(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    Scale.fanOut(documents, Seq("doc_id"))
      .withColumn("fp", contentFingerprint(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("fp", "__rn")
      .withColumnRenamed("doc_id", "keep_id")
  }

  /** Distinct word n-gram shingles per document. */
  def docShingles(documents: DataFrame, n: Int): DataFrame =
    Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))

  /** Default stop-shingle document-frequency ceiling for the exact
    * pair path. Never binds at test SFs (max observed shingle DF is 25
    * at sf0.1) — at corpus scale it is the guard that keeps the
    * shingle-key self-join from going quadratic on one boilerplate
    * shingle (1M-doc DF → 5·10¹¹ pairs from a single bucket). */
  val MaxShingleDf = 1000

  /** Exact n-gram Jaccard over candidate pairs (docs sharing ≥1 shingle).
    * |A∩B| from the shingle join, |A|,|B| precomputed, J = ∩/(|A|+|B|-∩).
    * Pairs below `threshold` are dropped.
    *
    * STOP-SHINGLE SEMANTICS (the r9 scale fix): shingles whose document
    * frequency exceeds `maxDf` are excluded from the similarity
    * universe ENTIRELY — from candidate generation AND from both |A∩B|
    * and |A|,|B| — so the reported number is the exact Jaccard of the
    * DF-filtered shingle sets (the stopword-removal convention of the
    * dedup literature, mirrored verbatim in the SQL oracle). Without
    * the ceiling the per-shingle bucket is quadratic: one boilerplate
    * shingle shared by k docs emits k²/2 join rows, which at 100 TB is
    * the job-killer (the banded LSH path has had exactly this cap —
    * Scale.capBuckets — since r3; this brings the exact path in line).
    *
    * Shape notes for scale:
    *  - shingles never exist as strings: the native ShingleHashes
    *    expression (plans/SketchExpressions.scala) hashes byte ranges of
    *    the text in place, and the join key is the 8-byte hash — fixed-
    *    width shuffle rows, ~1000× less per-doc CPU than the interpreted
    *    HOF pipeline. A hash collision (~|shingles|²/2⁶⁴) could perturb
    *    one `shared` count by 1 — the documented trade;
    *  - the hash-array frame materializes ONCE (localCheckpoint, the
    *    capBuckets discipline — the DF census, the anti-join, and both
    *    self-join sides re-explode from the snapshot instead of
    *    re-hashing the corpus);
    *  - the over-cap list is tiny by construction (≤ postings/maxDf,
    *    Zipf-headed in practice), so the posting anti-join broadcasts;
    *    the per-doc hot-shingle counts adjust sizes on the PAIR frame
    *    (post-aggregation — never a posting-frame join-back). */
  def ngramJaccardPairs(documents: DataFrame, n: Int, threshold: Double,
                        maxDf: Int = MaxShingleDf): DataFrame =
    ngramPairsSized(documents, n, maxDf)
      .withColumn("jaccard",
        round(col("shared") / (col("n1") + col("n2") - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("shared"), col("jaccard"))

  /** The shared candidate-pair frame behind [[ngramJaccardPairs]] and
    * [[jaccardHistogram]]: every doc pair sharing ≥1 kept shingle,
    * with the overlap count and both (hot-adjusted) shingle-set
    * sizes — the exact ingredients of any set-similarity measure. */
  private def ngramPairsSized(documents: DataFrame, n: Int,
                              maxDf: Int): DataFrame = {
    import graft.plans.ShingleHashes
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = ColumnBridge.column(
      ShingleHashes(ColumnBridge.expression(col("text")), n))
    val snap = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), hashes.as("hs"))
      .localCheckpoint(true)
    val sh = snap.select(col("doc_id"), size(col("hs")).as("n_full"),
      explode(col("hs")).as("sk"))
    val hot = sh.groupBy("sk").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select(col("sk").as("__hot"))
      .localCheckpoint(true)
    // driver fast-path gate (the dupClusters discipline): `hot` is
    // already materialized, so the emptiness check is free — and a
    // healthy corpus under the ceiling skips the anti-join and the
    // two size-adjustment joins entirely (the census is the only cost
    // of the guarantee, one narrow partial-agg'd rollup)
    val hotIsEmpty = hot.isEmpty
    val kept =
      if (hotIsEmpty) sh
      else sh.join(hot, col("sk") === col("__hot"), "left_anti")
    val base = kept.as("a")
      .join(kept.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n_full").as("f1"), col("b.n_full").as("f2"))
      .agg(count(lit(1)).as("shared"))
    val sized =
      if (hotIsEmpty)
        base.withColumn("n1", col("f1")).withColumn("n2", col("f2"))
      else {
        val hotPerDoc = sh.join(hot, col("sk") === col("__hot"))
          .groupBy("doc_id").agg(count(lit(1)).as("__nhot"))
        base
          .join(hotPerDoc.select(col("doc_id").as("d1"),
            col("__nhot").as("__h1")), Seq("d1"), "left")
          .join(hotPerDoc.select(col("doc_id").as("d2"),
            col("__nhot").as("__h2")), Seq("d2"), "left")
          .withColumn("n1", col("f1") - coalesce(col("__h1"), lit(0L)))
          .withColumn("n2", col("f2") - coalesce(col("__h2"), lit(0L)))
      }
    sized
  }

  /** CANDIDATE-PAIR SIMILARITY HISTOGRAM — the threshold-picking view
    * over the exact pair family ([[dedupYieldCurve]] answers "what
    * does τ cost"; this shows the similarity LANDSCAPE the τ cuts
    * through — a bimodal histogram means a clean near-dup mode exists,
    * a smooth decay means every threshold is arbitrary): all candidate
    * pairs bucketed by Jaccard decile. The bucket is EXACT integer
    * arithmetic — least(9, 10·shared div union) — so no float boundary
    * can flap a pair across a bucket edge. */
  def jaccardHistogram(documents: DataFrame, n: Int = 3,
                       maxDf: Int = MaxShingleDf): DataFrame = {
    val b = ngramPairsSized(documents, n, maxDf)
      .select(expr(
        "least(9L, shared * 10 div (n1 + n2 - shared))").as("bucket"))
    val tot = b.agg(count(lit(1)).as("nt"))
    b.groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_pairs"),
        round(col("n_pairs").cast("double") / col("nt"), 6).as("share"))
  }

  /** DEDUP YIELD CURVE (r9 — pipe_quality_curve's sibling for the
    * similarity knob: "what does each Jaccard threshold COST in
    * corpus" answered as a table, because the dedup-threshold meeting
    * is the same meeting as the quality-threshold one): for each
    * candidate τ, the flagged pair count, the documents dropped under
    * the keep-smaller-id rule (a doc drops iff its MAX pair similarity
    * as the larger id reaches τ — exactly dd_drop_exact's convention
    * lifted to near-dup), the tokens those drops take with them, and
    * the kept token share.
    *
    * ONE pair frame at the loosest threshold feeds every τ (the
    * thresholds ride a bounded-literal cross join — no re-pairing per
    * point), per-doc max-similarity is one rollup of it, and the
    * curve is monotone in τ by construction (spec-locked). Jaccards
    * are 6dp-rounded BEFORE the τ compare (engine-stable boundary,
    * same as the base operator). */
  def dedupCurve(documents: DataFrame, n: Int = 3,
                 thresholds: Seq[Double] =
                   Seq(0.1, 0.2, 0.3, 0.5, 0.7)): DataFrame = {
    import documents.sparkSession.implicits._
    val th = broadcast(thresholds.toDF("threshold"))
    val pairs = ngramJaccardPairs(documents, n, thresholds.min)
      .localCheckpoint(true)
    val nPairs = pairs.crossJoin(th)
      .filter(col("jaccard") >= col("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val tokc = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ntok"))
    val dropped = pairs.groupBy(col("d2").as("doc_id"))
      .agg(max("jaccard").as("mj"))
      .join(tokc, "doc_id")
    val total = tokc.agg(sum("ntok").as("tot_tok"))
    val drops = dropped.crossJoin(th)
      .filter(col("mj") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("docs_dropped"),
        sum("ntok").as("tokens_dropped"))
    th.join(nPairs, Seq("threshold"), "left")
      .join(drops, Seq("threshold"), "left")
      .crossJoin(broadcast(total))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("docs_dropped"), lit(0L)).as("docs_dropped"),
        coalesce(col("tokens_dropped"), lit(0L)).as("tokens_dropped"),
        round((col("tot_tok") - coalesce(col("tokens_dropped"), lit(0L)))
          .cast("double") / col("tot_tok"), 6).as("kept_token_share"))
  }

  /** Asymmetric CONTAINMENT pairs: |A∩B| / |A| — near-1 when doc A is
    * quoted/embedded inside a larger doc B even though their Jaccard is
    * tiny (the length-mismatch case symmetric similarity misses; the
    * standard complement to Jaccard in corpus dedup). Same shingle-join
    * shape as ngramJaccardPairs — hashed 8-byte shingle keys, sizes ride
    * the rows, no join-back — emitting both directions' containment per
    * unordered pair. */
  def ngramContainmentPairs(documents: DataFrame, n: Int,
                            threshold: Double,
                            maxDf: Int = MaxShingleDf): DataFrame = {
    import graft.plans.ShingleHashes
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = ColumnBridge.column(
      ShingleHashes(ColumnBridge.expression(col("text")), n))
    // same stop-shingle ceiling + snapshot discipline as
    // ngramJaccardPairs (one bucket must never go quadratic)
    val snap = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), hashes.as("hs"))
      .localCheckpoint(true)
    val sh = snap.select(col("doc_id"), size(col("hs")).as("n_full"),
      explode(col("hs")).as("sk"))
    val hot = sh.groupBy("sk").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select(col("sk").as("__hot"))
      .localCheckpoint(true)
    val hotIsEmpty = hot.isEmpty // driver fast-path gate, see Jaccard twin
    val kept =
      if (hotIsEmpty) sh
      else sh.join(hot, col("sk") === col("__hot"), "left_anti")
    val base = kept.as("a")
      .join(kept.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n_full").as("f1"), col("b.n_full").as("f2"))
      .agg(count(lit(1)).as("shared"))
    val sized =
      if (hotIsEmpty)
        base.withColumn("n1", col("f1")).withColumn("n2", col("f2"))
      else {
        val hotPerDoc = sh.join(hot, col("sk") === col("__hot"))
          .groupBy("doc_id").agg(count(lit(1)).as("__nhot"))
        base
          .join(hotPerDoc.select(col("doc_id").as("d1"),
            col("__nhot").as("__h1")), Seq("d1"), "left")
          .join(hotPerDoc.select(col("doc_id").as("d2"),
            col("__nhot").as("__h2")), Seq("d2"), "left")
          .withColumn("n1", col("f1") - coalesce(col("__h1"), lit(0L)))
          .withColumn("n2", col("f2") - coalesce(col("__h2"), lit(0L)))
      }
    sized
      .withColumn("cont_1_in_2", round(col("shared") / col("n1"), 6))
      .withColumn("cont_2_in_1", round(col("shared") / col("n2"), 6))
      .filter(col("cont_1_in_2") >= threshold ||
        col("cont_2_in_1") >= threshold)
      .select(col("d1"), col("d2"), col("shared"),
        col("cont_1_in_2"), col("cont_2_in_1"))
  }

  /** Exact duplicated-SUBSTRING spans (the deduplicate-text-datasets
    * operation, Lee et al. 2022: training corpora repeat long verbatim
    * passages inside otherwise-distinct documents, which doc-level
    * dedup never sees): every maximal token span covered by k-token
    * grams that occur more than once ANYWHERE in the corpus —
    * within-doc repeats included. Output (doc_id, span_start, span_end,
    * n_tokens), token-indexed, ready to subtract from the text.
    *
    * Scale shape: grams never exist as strings — the codegen'd
    * PositionalShingleHashes expression hashes token byte ranges in
    * place, so the corpus-wide occurrence count is ONE shuffle of
    * (hash, doc_id, pos) rows with the count riding a window over the
    * hash (no groupBy + join-back); surviving hit positions then merge
    * into maximal spans per doc with gaps-and-islands on a single
    * doc-keyed exchange (gap > k breaks an island — overlapping or
    * exactly-contiguous covers fuse). An 8-byte hash collision
    * (~|grams|²/2⁶⁴) could flag one stray span — the same documented
    * trade every hash-keyed dedup here accepts. */
  def duplicatedSpans(documents: DataFrame, k: Int = 8): DataFrame = {
    import graft.plans.PositionalShingleHashes
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = ColumnBridge.column(
      PositionalShingleHashes(ColumnBridge.expression(col("text")), k))
    val grams = Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), posexplode(hashes).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    val hits = grams
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__n") > 1)
      .select("doc_id", "pos")
    val wD = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(wD) <= k, 0).otherwise(1))
      .withColumn("__isl",
        sum("__brk").over(wD.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__isl")
      .agg(min("pos").as("span_start"),
        (max("pos") + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** CONTENT-DEFINED CHUNKING (the LBFS/restic/rsync boundary trick
    * brought to text dedup): a token position opens a new chunk when its
    * k-gram hash ≡ 0 (mod `mask`), so boundaries are a function of
    * CONTENT, not offset — prepending a paragraph shifts every byte
    * offset but re-synchronizes at the first surviving boundary, and
    * all later chunk hashes are UNCHANGED (the shift-resistance
    * fixed-size chunking fundamentally lacks; spec-planted). Average
    * chunk length ≈ `mask` tokens. One row per chunk: (doc_id,
    * start_tok, n_tokens, chunk_hash).
    *
    * Entirely ROW-LOCAL column work: the codegen'd positional k-gram
    * fingerprints feed a transform/filter boundary scan and an order-
    * sensitive fold per chunk (acc·131+h mod 1e9+7 over the slice) —
    * grams and chunks never exist as strings, nothing shuffles until
    * the caller aggregates chunk hashes.
    *
    * The gram fingerprint is the RABIN POLYNOMIAL family (mod-1e9+7
    * byte fold — the textbook CDC fingerprint, and the r12 flip that
    * made dd_cdc_chunks hash-checkable: a DuckDB CTE replays grams,
    * boundaries, spans and chunk folds verbatim;
    * SparkEntry.oracleSql("dd_cdc_chunks")). */
  def cdcChunks(documents: DataFrame, k: Int = 4, mask: Int = 16): DataFrame = {
    import graft.plans.PositionalShinglePolyHashes
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = ColumnBridge.column(
      PositionalShinglePolyHashes(ColumnBridge.expression(col("text")), k))
    documents.select(col("doc_id"), hashes.as("hs"))
      .withColumn("bnds", concat(
        array(lit(0)),
        filter(transform(col("hs"),
          (h, i) => when(pmod(h, lit(mask.toLong)) === 0, i + 1)
            .otherwise(lit(-1))), x => x > 0),
        array(size(col("hs")))))
      .withColumn("span", explode(filter(
        transform(sequence(lit(1), size(col("bnds")) - 1),
          j => struct(element_at(col("bnds"), j).as("s"),
            element_at(col("bnds"), j + 1).as("e"))),
        sp => sp("e") > sp("s"))))
      .select(col("doc_id"),
        col("span.s").cast("long").as("start_tok"),
        (col("span.e") - col("span.s")).cast("long").as("n_tokens"),
        // order-sensitive mod-p fold (acc·131 + h, seeded 7): every
        // intermediate < 2³⁸, and DuckDB list_reduce replays it exactly
        aggregate(
          slice(col("hs"), col("span.s") + 1, col("span.e") - col("span.s")),
          lit(7L),
          (acc, h) => pmod(acc * lit(131L) + h, lit(1000000007L)))
          .as("chunk_hash"))
  }

  /** Cross-document shared-chunk report over [[cdcChunks]] — which
    * verbatim passages the corpus repeats and how widely (the storage-
    * dedup view of duplication, complementing span subtraction):
    * chunk-hash rollup (8-byte keys, map-side combined), shared = seen
    * in ≥ 2 distinct docs, top-N widest-shared. */
  def sharedChunks(documents: DataFrame, k: Int = 4, mask: Int = 16,
                   topN: Int = 30): DataFrame =
    cdcChunks(Scale.fanOut(documents.select("doc_id", "text"),
        Seq("doc_id")), k, mask)
      .groupBy("chunk_hash")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        max("n_tokens").as("n_tokens"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), desc("n_occurrences"), asc("chunk_hash"))
      .limit(topN)

  /** Driver-side union-find with path compression over an edge array
    * (direction/duplicates immaterial): (node, min member id) labels —
    * the [[dupClusters]] fast path's core, shared with
    * Graph.minimumSpanningForest's per-round component contraction
    * (whose pair frame is already checkpointed AND counted, so calling
    * this directly skips the fast path's counted checkpoint). */
  private[operators] def unionFindLabels(es: Array[(Long, Long)])
      : Seq[(Long, Long)] = {
    // union-find with path compression; final label = min member id
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != r) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      r
    }
    es.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      // union toward the smaller root: roots stay component minima
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val labels = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    parent.keySet().forEach(n => labels += ((n, find(n))))
    labels.toSeq
  }

  /** Connected components over a near-dup pair list (d1 < d2): cluster
    * id = smallest doc_id reachable. Iterative min-label propagation —
    * the Spark-native CC (each round: join labels to edges, take the
    * neighborhood min; converges in O(diameter) rounds, O(log n) with
    * both edge directions). The loop is driver-side but each round is a
    * distributed join; dup clusters are tiny diameter in practice. A
    * graph whose labels have not settled within `maxIter` rounds throws
    * IllegalStateException rather than return partial clusters.
    *
    * Small-graph fast path (MEASURED, the broadcast-gate idiom): an edge
    * list under `driverEdgeLimit` rows (~32 MB of long pairs at the 2M
    * default) finishes in one collect + union-find instead of paying
    * O(log diameter) distributed rounds whose per-round job overhead
    * dwarfs the work — a percolated 50k-edge graph measured 19 s in
    * rounds vs milliseconds in the fast path, identical labels (spec-
    * locked equal on both paths). A 100 TB corpus whose candidate pairs
    * exceed the limit takes the distributed rounds unchanged; the
    * collect is the same justified-scalar class as codebook training. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  driverEdgeLimit: Long = 2000000L): DataFrame = {
    // the pair lineage (the expensive candidate generation) runs once:
    // one counted checkpoint of the pair list feeds the driver collect
    // and both edge directions of the distributed rounds. Both paths
    // keep a self-pair (x, x) as the singleton cluster {x}; a pair with
    // a null end joins no cluster on the driver path.
    val (pairList, nPairs) = Loops.checkpointCounted(
      pairs.select(col("d1").as("a"), col("d2").as("b")))
    val nEdges = 2 * nPairs
    if (nEdges <= driverEdgeLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = pairList.select(col("a").cast("long"), col("b").cast("long"))
        .collect().collect {
          case r if !r.anyNull => (r.getLong(0), r.getLong(1))
        }
      return unionFindLabels(es).toDF("doc_id", "cluster_id")
    }
    // near-dup edge lists are usually tiny relative to the corpus:
    // collapse to a few partitions so each fixpoint round doesn't pay 32
    // near-empty task launches per job. MEASURED, not assumed (the
    // dd_cluster lesson): the counted edge total decides, so a
    // boilerplate-heavy corpus whose edge list is itself large keeps
    // full parallelism instead of serializing every CC round onto 4
    // tasks at 100 TB.
    val edgesAll = pairList
      .unionByName(pairList.select(col("b").as("a"), col("a").as("b")))
    val edges =
      if (nEdges <= 1000000L) edgesAll.coalesce(4)
      else edgesAll
    // dup-cluster label frames are usually tiny relative to the corpus
    // (only docs appearing in pairs) — broadcast them into the per-round
    // joins so an iteration is shuffle-free, guarded (Loops.bcOr) by the
    // node count (constant across rounds — every node keeps its label
    // row), taken once off the cached edge list.
    lazy val nNodes = edges.select(col("a")).distinct().count()
    def bc(df: DataFrame): DataFrame = Loops.bcOr(df, nNodes)
    def nbMin(cur: DataFrame): DataFrame = {
      val via = edges
        .join(bc(cur.select(col("id").as("b"), col("cluster_id").as("nb_label"))), "b")
        .groupBy(col("a").as("id"))
        .agg(min("nb_label").as("nb_min"))
      cur.join(via, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id")))
            .as("cluster_id"))
    }
    // pointer doubling (label := label(label)) makes convergence
    // O(log n) rounds instead of O(diameter)
    def ptrDouble(cur: DataFrame): DataFrame =
      cur.join(bc(cur.select(col("id").as("cluster_id"), col("cluster_id").as("ll"))),
          Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("ll"), col("cluster_id")))
            .as("cluster_id"))
    // label init fused with the first neighbor-min round: edges carry
    // both directions, so every node appears on the `a` side and one
    // aggregation yields label = min(self, neighbors). Labels only ever
    // decrease, so the decimal Σlabel is the fixpoint witness. One
    // propagation round per checkpoint: each round's broadcast sides
    // re-read the previous checkpoint, so stacking un-materialized
    // rounds recomputes the whole prior round inside every broadcast
    // subtree (measured 2x slower than checkpointing each round)
    val (labels, settled) = Loops.fixpoint(
        ptrDouble(
          edges.groupBy(col("a").as("id")).agg(min("b").as("nb_min"))
            .select(col("id"), least(col("id"), col("nb_min")).as("cluster_id")))
          .localCheckpoint(true),
        maxIter)(Loops.decimalSum(_, "cluster_id"))(cur => ptrDouble(nbMin(cur)))
    if (!settled) throw new IllegalStateException(
      s"dupClusters did not settle in $maxIter rounds")
    labels.withColumnRenamed("id", "doc_id")
  }

  /** Apply a near-dup clustering to the corpus: keep ONE canonical
    * document per dup cluster — the highest quality score, ties to the
    * smallest doc_id — plus every unclustered document. This is the step
    * that turns pair/cluster DETECTION into a deduplicated corpus (what
    * a training-data pipeline actually ships).
    *
    * Scale shape: `clusters` holds only docs that appear in pairs — a
    * tiny fraction of the corpus — so the rank window and the quality
    * join run on the small frame, and the final anti-join broadcasts the
    * drop list against the full corpus scan (no corpus shuffle). The
    * quality scores are computed only for clustered docs via a semi-
    * filtered scan, not corpus-wide. */
  def keepCanonical(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = dupClusters(pairs) // (doc_id, cluster_id), small
    // guarded by one cheap count off the labels (a local relation or a
    // checkpoint)
    val nClustered = clusters.count()
    val scored = TextAnalysis
      .qualityScores(documents.join(
        Loops.bcOr(clusters.select("doc_id"), nClustered), Seq("doc_id"),
        "left_semi"))
      .select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(desc("quality_score"), asc("doc_id"))
    val drops = clusters.join(scored, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select("doc_id")
    documents.join(Loops.bcOr(drops, nClustered), Seq("doc_id"), "left_anti")
      .select("doc_id", "n_chars")
  }

  /** Soft dedup: keep EVERY document but down-weight duplicate
    * clusters to unit total mass (weight = 1/cluster size) — the
    * training-mix alternative to [[keepCanonical]] when near-dups still
    * carry signal (SemDeDup-style reweighting). Output: one row per
    * corpus doc with its cluster size (1 for singletons) and weight.
    *
    * Scale shape: cluster labels come from the shared CC machinery;
    * the size rollup and the label frame are both cluster-membership-
    * sized (≪ corpus), so the corpus-wide join is a measured broadcast
    * (shuffled-join degrade above the limit, never an executor OOM) —
    * the corpus itself is scanned once and never re-shuffles. */
  def reweightByCluster(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = dupClusters(pairs) // (doc_id, cluster_id), checkpointed
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val labeled = clusters.join(sizes, "cluster_id")
      .select("doc_id", "cluster_size")
    documents.select("doc_id")
      .join(Loops.bcOr(labeled, clusters.count()), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("cluster_size"), lit(1L)), 6)
          .as("weight"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`. Exact
    * all-pairs baseline (the LSH-bucketed variant in SimilaritySearch is
    * the 100 TB path). */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{dot, l2Norm}
    // Norms are computed ONCE per vector before the pair join (carried as
    // a scalar through the join) — recomputing them per pair tripled the
    // flops and dominated the profile.
    val withNorm = Scale.fanOut(embeddings, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("nrm").as("n1"))
    val b = withNorm.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("nrm").as("n2"))
    a.join(b, col("v1") < col("v2"))
      .withColumn("cos", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** Semantic (embedding-space) dedup, SemDeDup-style: vectors are
    * clustered by the IVF coarse codebook, near-dup pairs are found
    * WITHIN each cell only (cos ≥ threshold on a cell equi-join — the
    * quadratic work is bounded per cell, never corpus-wide), connected
    * components collapse transitive groups, and one representative (the
    * smallest vec_id — the CC label itself) survives per group. Returns
    * the kept set (vec_id, cell).
    *
    * The within-cell restriction is the SemDeDup trade: a near-dup pair
    * split across two cells survives — recall follows the codebook
    * granularity, correctness (no kept intra-cell pair ≥ threshold) is
    * spec-asserted. At 100 TB the cell id is the partition key of the
    * built IVF lake, so the pair join runs cell-co-located with no
    * corpus-wide shuffle. */
  def semanticDedup(embeddings: DataFrame, codebook: Seq[Seq[Double]],
                    threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{dot, l2Norm, nearestCentroidId}
    val assigned = Scale.fanOut(embeddings, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"),
        coalesce(nearestCentroidId(col("embedding"), codebook), lit(-1)).as("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b = assigned.select(col("cell"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("v1") < col("v2"))
      .filter(round(dot(col("e1"), col("e2")) /
        (col("n1") * col("n2")), 4) >= threshold)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val drops = dupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id")) // keep the label vector
      .select(col("doc_id").as("vec_id"))
    assigned.join(broadcast(drops), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }
}
