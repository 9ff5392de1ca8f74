package graft.streaming

import graft.functions.TextFunctions._
import graft.sources.Lake
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of operators.IncrementalDedup: a document stream is
  * deduped against the HISTORICAL fingerprint store, not just within the
  * stream's watermark horizon (which is all dropDuplicatesWithinWatermark
  * can see). Each micro-batch anti-joins the store, appends the admitted
  * docs to the lake and their fingerprints to the store — so a document
  * first seen last month is still dropped today, with per-batch cost
  * proportional to the batch, not the corpus.
  *
  * Crash semantics: the store append commits BEFORE the lake append, so
  * a crash between the two re-drops the batch's docs on replay (their
  * fps are already recorded) — duplicates never reach the lake; the
  * failed batch's docs may be missing until a backfill re-admits them
  * (at-most-once on the lake, never duplicate). Exactly-once needs a
  * transactional table format, out of scope here.
  */
object CorpusDedup {

  /** Admit one micro-batch (or backfill frame) against the store. */
  def admitBatch(batch: DataFrame, storePath: String, outPath: String): Unit = {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    val batchKeep = batch
      .withColumn("fp", contentFingerprint(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val novel0 = Lake.readStore(batch.sparkSession, storePath).fold(batchKeep)(
      batchKeep.join(_, Seq("fp"), "left_anti"))
    // materialize once: the admit set feeds two writes, one of which
    // appends to the very store the plan reads
    val novel = novel0.localCheckpoint(true)
    try {
      novel.select("fp").write.mode("append").parquet(storePath)
      novel.drop("fp").write.mode("append").parquet(outPath)
    } finally novel.unpersist()
  }

  /** Checkpointed sink: corpus-incremental dedup per micro-batch. */
  def sink(docs: DataFrame, storePath: String, outPath: String,
           checkpoint: String): DataStreamWriter[Row] =
    Lake.batchSink(docs, checkpoint)((batch, _) =>
      admitBatch(batch, storePath, outPath))

  /** Streaming twin of operators.TextAnalysis.curate: the row-local
    * quality and repetition gates run ON THE STREAM (pure Column
    * predicates, evaluated before anything is shuffled or stored), and
    * only the survivors enter the incremental corpus-dedup admit. Junk
    * never costs store lookups, lake writes, or fingerprint-store
    * growth. */
  def curateSink(docs: DataFrame, storePath: String, outPath: String,
                 checkpoint: String, minQuality: Double = 0.47,
                 maxDupWordRatio: Double = 0.6): DataStreamWriter[Row] = {
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.functions._
    sink(
      docs.filter(round(qualityScore(col("text")), 6) >= minQuality &&
        round(dupWordRatio(col("text")), 6) <= maxDupWordRatio),
      storePath, outPath, checkpoint)
  }
}
