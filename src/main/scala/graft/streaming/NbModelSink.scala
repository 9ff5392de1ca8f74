package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** ONLINE Naive Bayes model maintenance as a stream sink — the speed
  * twin of ml_nb: every micro-batch contributes its (token, lang) count
  * increments to a persistent model store, so the classifier's
  * sufficient statistics track the stream without ever rescanning
  * history. Counts are MERGEABLE (the whole point of NB's sufficient
  * statistics), so the model at any moment is one rollup over the
  * stored partials.
  *
  * State design: one increment per batch under the replay discipline
  * of [[graft.sources.Lake.writeBatchPartition]]. No state is read on
  * the write path at all — unlike SGD there is no sequential
  * dependency, which is exactly why count-based models are the easy
  * ones to stream.
  *
  * Scale shape: the per-batch increment is one map-side-combined
  * (token, lang) rollup over the batch; the store grows by
  * vocab-per-batch rows, and [[model]] collapses it in one partial-agg
  * pass whenever a scorer needs fresh probabilities.
  */
object NbModelSink {

  /** One micro-batch of count increments — also the backfill twin.
    * `batch` must carry `lang` and `text` columns. */
  def countsBatch(batch: DataFrame, batchId: Long, statePath: String): Unit = {
    Lake.writeBatchPartition(batch
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c")),
      batchId, statePath)
  }

  /** The live model: (lang, tok, c) totals over every stored batch
    * increment — one partial-agg rollup, mergeable by construction. */
  def model(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy("lang", "tok").agg(sum("c").as("c"))

  /** The streaming writer: wire a (lang, text) document stream in,
    * point it at a state path, start. */
  def sink(stream: DataFrame, statePath: String,
           checkpoint: String): DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(countsBatch(_, _, statePath))
}
