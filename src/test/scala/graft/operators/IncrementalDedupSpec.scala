package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {

  import spark.implicits._

  // a wordy base text so 3-gram Jaccard behaves like on real documents
  private val baseText =
    "the quick brown fox jumps over the lazy dog while the cat watches " +
    "from the warm windowsill and the birds sing in the garden"
  private val nearDupText = // one word changed → Jaccard ≈ 0.85
    "the quick brown fox jumps over the lazy dog while the cat watches " +
    "from the cold windowsill and the birds sing in the garden"
  private val novelText =
    "completely different content about databases indexes shuffles and " +
    "partitions that shares no trigram with the animal story at all here"
  private val novelText2 =
    "another unrelated passage describing streaming watermarks state and " +
    "checkpoints with zero overlap against either corpus document text"

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, t.length) }.toDF("doc_id", "text", "n_chars")

  private val corpus = docs(1L -> baseText, 2L -> novelText)

  // new batch: 10 = exact copy of corpus doc, 11 = near-dup of corpus
  // doc, 12 = novel, 13/14 = identical novel twins (intra-batch dup)
  private val batch = docs(10L -> baseText, 11L -> nearDupText,
    12L -> novelText2, 13L -> (novelText2 + " twin"), 14L -> (novelText2 + " twin"))

  test("incrementalDedup admits only novel docs; exact, near-dup and intra-batch dups drop") {
    val admitted = IncrementalDedup.incrementalDedup(batch, corpus, n = 3, threshold = 0.2)
      .collect().map(_.getLong(0)).sorted
    // 10 exact-dups away, 11 is a near-dup of doc 1, 14 collapses onto 13
    assert(admitted.sameElements(Array(12L, 13L)), admitted.mkString(","))
  }

  test("incrementalDedupLsh against a stored index agrees on the synthetic corpus") {
    val dir = s"target/graft_io/incdedup_${System.nanoTime()}"
    IncrementalDedup.buildDedupIndex(corpus, dir)
    val admitted = IncrementalDedup.incrementalDedupLsh(spark, batch, dir)
      .collect().map(_.getLong(0)).sorted
    // the one-word near-dup's MinHash estimate is far above 0.5, so the
    // sketch path reaches the exact twin's verdict
    assert(admitted.sameElements(Array(12L, 13L)), admitted.mkString(","))
    // deterministic: probing the same stored index twice returns the same set
    val again = IncrementalDedup.incrementalDedupLsh(spark, batch, dir)
      .collect().map(_.getLong(0)).sorted
    assert(admitted.sameElements(again))
  }

  test("incremental twins agree on the real documents table") {
    val all = graft.Tables.documents(spark, sf)
    val newDocs = all.filter(col("doc_id") % 5 === 0)
    val oldDocs = all.filter(col("doc_id") % 5 =!= 0)
    val exact = IncrementalDedup.incrementalDedup(newDocs, oldDocs)
      .collect().map(_.getLong(0)).toSet
    val dir = s"target/graft_io/incdedup_real_${System.nanoTime()}"
    IncrementalDedup.buildDedupIndex(oldDocs, dir)
    val lsh = IncrementalDedup.incrementalDedupLsh(spark, newDocs, dir)
      .collect().map(_.getLong(0)).toSet
    // different near-dup thresholds (exact 0.2 vs estimate 0.5) bound the
    // disagreement, they don't eliminate it — floor the agreement instead
    val sym = (exact diff lsh).size + (lsh diff exact).size
    assert(exact.nonEmpty)
    assert(sym.toDouble / exact.size <= 0.2,
      s"admit sets diverged: exact=${exact.size} lsh=${lsh.size} sym-diff=$sym")
  }

  test("incrementalDedupBloom equals the unpruned fingerprint anti-join") {
    import graft.functions.TextFunctions.contentFingerprint
    val all = graft.Tables.documents(spark, sf)
    val newDocs = all.filter(col("doc_id") % 5 === 0)
    val oldDocs = all.filter(col("doc_id") % 5 =!= 0)
    val bloom = IncrementalDedup.incrementalDedupBloom(spark, newDocs, oldDocs)
      .collect().map(_.getLong(0)).toSet
    // reference formulation: same collapse + anti-join, no bloom pruning
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    val plain = newDocs
      .withColumn("fp", contentFingerprint(col("text")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(oldDocs.select(contentFingerprint(col("text")).as("fp")).distinct(),
        Seq("fp"), "left_anti")
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(bloom == plain, s"bloom=${bloom.size} plain=${plain.size}")
    assert(bloom.nonEmpty)
  }

  test("incrementalDedupBloom drops exact dups, keeps novel, collapses intra-batch") {
    val admitted = IncrementalDedup.incrementalDedupBloom(spark, batch, corpus)
      .collect().map(_.getLong(0)).sorted
    // exact layer only: 10 (exact copy) drops, 14 collapses onto 13,
    // near-dup 11 SURVIVES (near-dup is the LSH layer's job)
    assert(admitted.sameElements(Array(11L, 12L, 13L)), admitted.mkString(","))
    // empty corpus: bloom of the batch prunes everything corpus-side,
    // the anti-join keeps the whole collapsed batch
    val none = IncrementalDedup.incrementalDedupBloom(spark, batch,
      corpus.filter(col("doc_id") < 0))
      .collect().map(_.getLong(0)).sorted
    assert(none.sameElements(Array(10L, 11L, 12L, 13L)), none.mkString(","))
  }
}
