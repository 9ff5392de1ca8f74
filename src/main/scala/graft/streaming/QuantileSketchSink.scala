package graft.streaming

import graft.operators.Stats
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming quantile-sketch maintenance — the speed twin of
  * st_quantile_merge: every micro-batch buckets its own rows over the
  * store's FIXED value domain and lands the (day, bucket, n) partial
  * frame in the sketch store; nothing downstream ever rescans event
  * history to answer a quantile question. The batch partials and the
  * streamed partials are the SAME frame shape (Stats.quantilePartials),
  * so a reader merges cold-store days and live-stream batches with one
  * mergeQuantilePartials call — the lambda join the fixed domain buys.
  *
  * The partials follow the replay discipline of
  * [[graft.sources.Lake.writeBatchPartition]], so nothing
  * double-counts. The store stays sketch-sized —
  * ≤ days×nBins rows per batch partition, never data-sized. */
object QuantileSketchSink {

  /** One micro-batch of sketch maintenance — also the backfill twin. */
  def partialsBatch(batch: DataFrame, batchId: Long, storePath: String,
                    c: String, lo: Double, hi: Double, nBins: Int): Unit =
    Lake.writeBatchPartition(Stats.quantilePartials(batch, c, lo, hi, nBins),
      batchId, storePath)

  /** The streaming writer: point an event stream (with `ts` and the
    * value column) at a sketch store, start. */
  def sink(stream: DataFrame, storePath: String, checkpoint: String,
           c: String = "value", lo: Double = 0.0, hi: Double = 500.0,
           nBins: Int = 50): DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(
      partialsBatch(_, _, storePath, c, lo, hi, nBins))

  /** Read side: merged quantile estimates over EVERYTHING the store
    * holds (all batches, all days) — one constant-size sketch merge. */
  def mergedQuantiles(spark: SparkSession, storePath: String,
                      lo: Double = 0.0, hi: Double = 500.0,
                      nBins: Int = 50,
                      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9))
      : DataFrame =
    Stats.mergeQuantilePartials(
      spark.read.parquet(storePath).select("day", "bucket", "n"),
      lo, hi, nBins, qs)
}
