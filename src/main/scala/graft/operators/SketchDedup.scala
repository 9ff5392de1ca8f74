package graft.operators

import graft.plans.{CwMinHash, MinHashCwFromHashes, ShinglePolyHashes, SimHash60FromHashes}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based near-dup detection — the 100 TB path (SURVEY §2.G).
  *
  * Exact n-gram Jaccard (Dedup.ngramJaccardPairs) explodes ~|doc| shingle
  * rows per document into a shuffle. Here signatures are computed
  * row-local inside the scan (native expressions, no explode), and only
  * compact keys shuffle:
  *   - MinHash-LSH: b band keys per doc (b≈8), candidates = band-key
  *     hash-join, verified by signature agreement.
  *   - SimHash: one i64 per doc, banded into 16-bit chunks; candidates
  *     verified by Hamming distance (bit_count(xor)).
  *
  * Hash family (r13): the whole family rides the SQL-REPLAYABLE sketch
  * stack — two-poly 60-bit shingle fingerprints (ShinglePolyHashes, the
  * mm_phash r12 swap), Carter–Wegman slot permutations mod 1e9+7
  * (CwMinHash — st_cms's recipe at signature scale), strict-majority
  * 60-bit SimHash (SimHash60FromHashes), and mod-1e9+7 poly band-key
  * folds. Every stage of candidate generation — signatures, band keys,
  * bucket caps, the est-Jaccard verify — replays verbatim as DuckDB
  * CTEs, so dd_minhash_lsh / dd_simhash / dd_cluster_lsh / dd_lsh_eval /
  * dd_incremental_lsh / tx_source_jaccard / pipe_pairs are hash-checked
  * against the oracle instead of rows-only (the oracle SQL is RENDERED
  * from the same coefficient arrays, so the sides cannot drift).
  * ~2-3× the per-byte sketch CPU of the xxhash64 family — the same
  * trade the r12 flips made, paid in the scan stage only.
  *
  * Skew defenses, in order:
  *   1. candidate pairs are emitted from the FIRST UNDER-CAP band whose
  *      keys agree (a row-local predicate on the band-key and over-cap
  *      arrays carried through the join) — no global `distinct()` shuffle
  *      over the candidate set, and a capped hot band can't drop a pair
  *      another agreeing band still holds;
  *   2. SimHash collapses docs with IDENTICAL sketches before banding —
  *      on boilerplate-heavy corpora this is exactly the population of
  *      the hot chunk buckets, and it reduces bucket sizes from #docs to
  *      #distinct-sketches (intra-group pairs are emitted directly as
  *      hamming-0, an output-bound expansion);
  *   3. residual hot buckets are capped (`bucketCap`) on BOTH sketch
  *      families, bounding the per-bucket quadratic expansion; AQE
  *      skew-join handles join-side skew.
  */
object SketchDedup {

  private def shingleHashCol(text: Column, n: Int): Column =
    ColumnBridge.column(ShinglePolyHashes(ColumnBridge.expression(text), n))

  private def minhashCol(hashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashCwFromHashes(ColumnBridge.expression(hashes), k))

  private def simhashCol(hashes: Column): Column =
    ColumnBridge.column(SimHash60FromHashes(ColumnBridge.expression(hashes)))

  /** Poly band-key fold (SQL-replayable): fold of band `j`'s slots with
    * (acc·131 + slot) mod 1e9+7 seeded 7+j — slots are CW values < p,
    * so acc·131 + slot < 2³⁸. The DuckDB twin is
    * `list_reduce(list_prepend(7 + j, sig[j·r+1 : j·r+r]),
    *   (acc, s) -> (acc*131 + s) % 1000000007)`. */
  private def bandKeyCol(sig: Column, j: Int, r: Int): Column =
    aggregate(slice(sig, j * r + 1, r), lit(7L + j),
      (acc, s) => (acc * 131 + s) % CwMinHash.P)

  /** doc_id + k-slot MinHash signature, computed in the scan (fanned out
    * so sketch CPU uses every core even on a one-split input; shingles
    * never materialize as strings — see ShingleHashes). */
  def withMinHashSignature(documents: DataFrame, n: Int = 3, k: Int = 32): DataFrame =
    Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"),
        minhashCol(shingleHashCol(col("text"), n), k).as("sig"))

  /** The persistable MinHash-LSH sketch index: (doc_id, sig, bks) with
    * one band key per LSH band. This is what a 100 TB corpus stores
    * alongside the documents so incremental batches can be deduped
    * against it WITHOUT rescanning the corpus text (see
    * IncrementalDedup); minhashLshPairs bands the same frame. */
  def minhashIndex(documents: DataFrame, n: Int = 3, k: Int = 32,
                   bands: Int = 8): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    withMinHashSignature(documents, n, k)
      .withColumn("bks", array((0 until bands).map(j =>
        bandKeyCol(col("sig"), j, r)): _*))
  }

  /** Near-dup matches of NEW docs against a STORED sketch index — the
    * incremental form of minhashLshPairs: both sides band their keys,
    * candidates meet on a (band, band_key) equi-join (new × index, not
    * self), are deduped row-locally by the first-agreeing-band
    * predicate (at an agreeing band both sides share the bucket) and
    * finished by the signature-agreement estimate. No cap: incremental
    * batches are small relative to the corpus, and the index side's hot
    * buckets are exactly the boilerplate a dedup must still match. */
  def minhashMatchesIndex(newDocs: DataFrame, index: DataFrame,
                          n: Int = 3, k: Int = 32, bands: Int = 8,
                          threshold: Double = 0.5): DataFrame = {
    val a = minhashIndex(newDocs, n, k, bands)
      .select(col("doc_id").as("new_id"), col("sig").as("sig_n"),
        col("bks").as("bks_n"), posexplode(col("bks")).as(Seq("band", "band_key")))
    val b = index
      .select(col("doc_id").as("old_id"), col("sig").as("sig_o"),
        col("bks").as("bks_o"), posexplode(col("bks")).as(Seq("band", "band_key")))
    a.join(b, Seq("band", "band_key"))
      .filter(col("band") ===
        array_position(zip_with(col("bks_n"), col("bks_o"), (p, q) => p === q),
          true) - 1)
      .select(col("new_id"), col("old_id"),
        round(aggregate(
          zip_with(col("sig_n"), col("sig_o"), (p, q) => when(p === q, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Candidate pairs from LSH banding + signature-agreement estimate.
    * k slots, `bands` bands of k/bands rows; pairs estimated below
    * `threshold` are dropped. `bucketCap` bounds per-bucket expansion.
    *
    * The signature and the full band-key array ride along the banded
    * rows, so a matched pair is finished row-locally: the first-under-
    * cap-agreeing-band predicate dedupes (instead of a candidate-wide
    * `distinct()`) and the estimate needs no signature join-back. Cap
    * interaction: a pair drops only when EVERY band its keys agree on
    * is over-cap (the carried `over` flags let later agreeing bands
    * rescue a pair whose first agreeing band was capped). */
  def minhashLshPairs(documents: DataFrame, n: Int = 3, k: Int = 32,
                      bands: Int = 8, threshold: Double = 0.5,
                      bucketCap: Int = 64): DataFrame = {
    // cap pathological buckets (boilerplate): keeps expansion bounded
    val capped = Scale.capBuckets(minhashIndex(documents, n, k, bands),
      "doc_id", bucketCap)

    Scale.bandJoinFirstAgree(capped, "doc_id")
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        round(aggregate(
          zip_with(col("x.sig"), col("y.sig"), (p, q) => when(p === q, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Measured LSH dedup QUALITY report — precision/recall/F1 of the
    * MinHash-LSH candidate pairs against the exact n-gram-Jaccard truth
    * at the same threshold ("measure, don't guess": the number that
    * justifies running the sketch path at 100 TB lives in the engine,
    * not in a notebook). Truth and retrieved sets are both
    * deterministic, so the report is stable; full-outer on the pair key
    * classifies TP/FN/FP in one pass, 1-row output. At scale the exact
    * side runs on a SAMPLE — precision/recall estimates need only a
    * slice, and the report is the evidence the sample is representative
    * of. */
  def lshEval(documents: DataFrame, n: Int = 3,
              threshold: Double = 0.5): DataFrame = {
    val truth = graft.operators.Dedup
      .ngramJaccardPairs(documents, n, threshold)
      .select(col("d1"), col("d2"), lit(1L).as("__t"))
    val retrieved = minhashLshPairs(documents, n, threshold = threshold)
      .select(col("d1"), col("d2"), lit(1L).as("__r"))
    // precision/recall/f1 as exact half-up e4 integer divisions: the
    // tp/count grids are rationals whose e4 images reach the .5
    // boundary whenever the denominator is a power of two (count = 32
    // retrieved pairs makes tp·312.5 exact), so engine round() is
    // banned at this oracle interface (the SS8.6 discipline); the
    // DuckDB twin spells the same divisions (OracleSql.ddLshEval)
    // sums coalesce to 0 (r14 ADVICE fix): on a degenerate corpus with
    // an empty truth or retrieved set, sum-over-all-NULL is NULL while
    // the oracle's count(*) subqueries say 0 — coalescing keeps both
    // sides agreeing on empty sets (counts 0, ratios NULL via nullif)
    truth.join(retrieved, Seq("d1", "d2"), "full_outer")
      .agg(coalesce(sum("__t"), lit(0L)).as("n_true"),
        coalesce(sum("__r"), lit(0L)).as("n_retrieved"),
        coalesce(sum(col("__t") * col("__r")), lit(0L)).as("n_tp"))
      .withColumn("p_e4",
        expr("(20000 * n_tp + n_retrieved) div (2 * nullif(n_retrieved, 0))"))
      .withColumn("r_e4",
        expr("(20000 * n_tp + n_true) div (2 * nullif(n_true, 0))"))
      .select(col("n_true"), col("n_retrieved"), col("n_tp"),
        (col("p_e4").cast("double") / 10000).as("precision"),
        (col("r_e4").cast("double") / 10000).as("recall"),
        (expr("(4 * p_e4 * r_e4 + (p_e4 + r_e4))" +
          " div (2 * nullif(p_e4 + r_e4, 0))").cast("double") / 10000)
          .as("f1"))
  }

  /** CONTRASTIVE training-pair generation — the embedding-model data
    * assembly step that sits on top of near-dup detection (SimCSE/E5
    * recipe: near-dups ≈ positives, everything else ≈ negatives):
    * positives are the MinHash-LSH pair set (label 1, both directions —
    * anchors need their positives regardless of id order); negatives
    * pair every anchor with a small GLOBAL md5-ordered candidate pool
    * (broadcast — pool size is a parameter, not data), minus any pair
    * that is itself LSH-similar and minus self-pairs (label 0).
    * Deterministic end to end: reruns and corpus growth never flip an
    * emitted pair. Output (anchor, other, label).
    *
    * In-batch negatives at training time make the big negative fan-out
    * unnecessary — the pool here exists to ship HARD explicit negatives
    * alongside each positive, so poolK stays small by design. */
  def contrastivePairs(documents: DataFrame, n: Int = 3,
                       threshold: Double = 0.5, poolK: Int = 8): DataFrame = {
    val pos1 = minhashLshPairs(documents, n, threshold = threshold)
      .select(col("d1").as("anchor"), col("d2").as("other"))
    val pos = pos1.unionByName(
        pos1.select(col("other").as("anchor"), col("anchor").as("other")))
      .distinct()
      .localCheckpoint(true) // anchors + anti-join both consume it
    val pool = documents
      .orderBy(md5(concat(lit("pool:"), col("doc_id").cast("string"))),
        col("doc_id"))
      .limit(poolK).select(col("doc_id").as("other"))
    val negs = pos.select(col("anchor")).distinct()
      .crossJoin(broadcast(pool))
      .filter(col("anchor") =!= col("other"))
      .join(pos, Seq("anchor", "other"), "left_anti")
    pos.withColumn("label", lit(1))
      .unionByName(negs.withColumn("label", lit(0)))
  }

  /** doc_id + 60-bit two-poly SimHash (strict-majority bit rule, bits
    * 60-63 clear — the mm_phash sketch family), computed in the scan
    * (fanned out). */
  def withSimHash(documents: DataFrame, n: Int = 3): DataFrame =
    Scale.fanOut(documents.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"),
        simhashCol(shingleHashCol(col("text"), n)).as("sim"))

  /** Brute-force SimHash pairing: all-pairs XOR + popcount. Exists as the
    * simple reference implementation and the banded/brute equivalence
    * check; identical output to simhashPairs for maxHamming <= 3. */
  def simhashPairsBrute(documents: DataFrame, n: Int = 3,
                        maxHamming: Int = 3): DataFrame = {
    val sims = withSimHash(documents, n)
    val a = sims.select(col("doc_id").as("d1"), col("sim").as("s1"))
    val b = sims.select(col("doc_id").as("d2"), col("sim").as("s2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** All ordered (d1 < d2) pairs from a SORTED id array, row-local. */
  private def sortedPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("d1"), y.as("d2")))))

  /** Cross pairs ids1 × ids2, each ordered (least, greatest), row-local. */
  private def crossPairs(ids1: Column, ids2: Column): Column =
    flatten(transform(ids1, a =>
      transform(ids2, b =>
        struct(least(a, b).as("d1"), greatest(a, b).as("d2")))))

  /** Split an id array into `c`-sized slices (order preserved) so pair
    * expansion downstream is bounded at c² structs per row. */
  private def chunkify(ids: Column, c: Int): Column =
    transform(sequence(lit(0), floor((size(ids) - lit(1)) / lit(c)).cast("int")),
      i => slice(ids, i * c + 1, lit(c)))

  private def simChunks(s: Column): Column =
    array((0 until 4).map(j =>
      shiftrightunsigned(s, j * 16).bitwiseAND(lit(0xFFFFL))): _*)

  /** Near-dup pairs by SimHash: the hamming<=maxHamming pair set,
    * produced without an all-pairs scan. Exact as long as each pair of
    * distinct sketches within the Hamming radius has at least one
    * agreeing 16-bit chunk whose bucket is under `bucketCap`: a pair
    * drops only when EVERY agreeing chunk is over-cap (the carried
    * over-cap flags let later chunks rescue it — raise `bucketCap` to
    * restore exactness at quadratic cost in those buckets).
    *
    * Step 1 collapses docs with identical sketches (groupBy sim): on a
    * homogeneous/boilerplate corpus these are precisely the docs that
    * inflate chunk buckets, and their pairs are emitted directly as
    * hamming-0 (output-bound, no join). Step 2 bands only the DISTINCT
    * sketch values into 4×16-bit chunks (any pair within Hamming 3
    * shares >=1 chunk — pigeonhole), joins on chunk with a `bucketCap`
    * guard, dedupes via the first-under-cap-agreeing-chunk predicate
    * (row-local, no distinct()), verifies bit_count(xor) <= maxHamming,
    * and expands the surviving sketch-group pairs back to doc pairs.
    *
    * Member-list expansion is CHUNKED (`groupChunk`): a sketch group
    * with g docs would otherwise build one row of g²/2 pair structs —
    * multi-GB for the 100k-identical-doc groups this rewrite targets.
    * Intra-group pairs are emitted as intra-chunk slices plus a
    * chunk×chunk self-join, and the banded path's group×group cross
    * products explode each side's chunks first, so no single row ever
    * materializes more than groupChunk² structs. The total pair count
    * is unchanged (it is the operator's output). */
  def simhashPairs(documents: DataFrame, n: Int = 3, maxHamming: Int = 3,
                   bucketCap: Int = 4096, groupChunk: Int = 1024): DataFrame = {
    // null text → null sketch; groupBy would pool them into one group
    // and emit them as hamming-0 "duplicates" — drop them instead
    simhashPairsFromSims(withSimHash(documents, n)
      .filter(col("sim").isNotNull), maxHamming, bucketCap, groupChunk)
  }

  /** Pairing stage over a PRECOMPUTED (doc_id, sim) frame — shared by
    * the poly60 corpus path above and mm_phash's SQL-replayable 60-bit
    * two-poly sketches (the 4×16-bit banding pigeonhole holds for any
    * ≤64-bit sketch: four disjoint chunks cover every bit, so a
    * hamming≤3 pair agrees on at least one). */
  def simhashPairsFromSims(sims: DataFrame, maxHamming: Int = 3,
                           bucketCap: Int = 4096,
                           groupChunk: Int = 1024): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding only guarantees recall for hamming <= 3")
    // the sketch-group aggregate sits on top of the corpus scan +
    // sketch compute (the expensive lineage) and the plan below
    // branches FOUR ways off it (intra-chunk, both sides of the
    // inter-chunk self-join, and capBuckets' input) — Catalyst
    // recomputes shared subtrees per branch, so without this the sims
    // lineage ran 4×. One corpus-compacted materialization, same
    // class as capBuckets' own snap (which previously WAS the only
    // checkpoint, one branch too late to help the other three).
    val groups = sims.groupBy("sim")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .localCheckpoint(true)

    // identical-sketch pairs, bounded: intra-chunk expansion + inter-chunk
    // self-join (each joined row expands ≤ groupChunk² structs)
    val chunked = groups.filter(size(col("ids")) >= 2)
      .select(col("sim"),
        posexplode(chunkify(col("ids"), groupChunk)).as(Seq("cid", "cids")))
    val intraChunk = chunked.filter(size(col("cids")) >= 2)
      .select(explode(sortedPairs(col("cids"))).as("p"))
      .select(col("p.d1"), col("p.d2"), lit(0).as("hamming"))
    val interChunk = chunked.as("ca").join(chunked.as("cb"),
        col("ca.sim") === col("cb.sim") && col("ca.cid") < col("cb.cid"))
      .select(explode(crossPairs(col("ca.cids"), col("cb.cids"))).as("p"))
      .select(col("p.d1"), col("p.d2"), lit(0).as("hamming"))
    val intra = intraChunk.unionByName(interChunk)

    val capped = Scale.capBuckets(
      groups.select(col("sim"), col("ids"), simChunks(col("sim")).as("bks")),
      "sim", bucketCap, key = "chunk")
    val inter = Scale.bandJoinFirstAgree(capped, "sim", key = "chunk")
      .select(col("x.ids").as("ids1"), col("y.ids").as("ids2"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // bound the group×group cross expansion the same way: explode each
      // side's chunk slices before pairing
      .select(explode(chunkify(col("ids1"), groupChunk)).as("c1"),
        col("ids2"), col("hamming"))
      .select(col("c1"), explode(chunkify(col("ids2"), groupChunk)).as("c2"),
        col("hamming"))
      .select(explode(crossPairs(col("c1"), col("c2"))).as("p"), col("hamming"))
      .select(col("p.d1"), col("p.d2"), col("hamming"))

    intra.unionByName(inter)
  }

  /** Corpus-pair overlap estimation via MERGED MinHash sketches: one
    * estimated shingle-set Jaccard per unordered group pair (e.g.
    * source × source) — the "how much does crawl B re-cover crawl A"
    * question a mixture designer asks BEFORE paying for a full
    * cross-corpus dedup. The estimator leans on MinHash's mergeability:
    * min is associative, so the slot-wise min of per-doc signatures IS
    * the signature of the group's UNIONED shingle set, and sketches
    * merge partition-locally (partial min) without ever holding a
    * group's text together. Matching-slot fraction then estimates the
    * pair Jaccard.
    *
    * Scale shape: per-doc signatures are scan-local (native zero-copy
    * exprs); the merge shuffles |groups|·k slot rows (map-side
    * combined); the pair join runs on the merged frame — groups² rows,
    * dim-sized for any real source taxonomy. Estimator (not the exact
    * set Jaccard) → rows-only contract with an accuracy spec vs the
    * exact per-pair Jaccard. */
  def sourceJaccard(documents: DataFrame, groupCol: String = "source",
                    n: Int = 3, k: Int = 64): DataFrame = {
    val sigs = Scale.fanOut(documents.select(col(groupCol), col("text")),
        Seq(groupCol))
      .select(col(groupCol),
        posexplode(minhashCol(shingleHashCol(col("text"), n), k)))
      .groupBy(col(groupCol), col("pos"))
      .agg(min("col").as("h"))
    val a = sigs.select(col(groupCol).as("ga"), col("pos"),
      col("h").as("ha"))
    val b = sigs.select(col(groupCol).as("gb"), col("pos"),
      col("h").as("hb"))
    a.join(b, Seq("pos")).filter(col("ga") < col("gb"))
      .groupBy("ga", "gb")
      .agg(round(avg(when(col("ha") === col("hb"), 1.0).otherwise(0.0)), 4)
        .as("est_jaccard"))
  }
}
