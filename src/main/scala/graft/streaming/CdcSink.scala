package graft.streaming

import graft.operators.Dwh
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming CDC dimension maintenance — the speed-layer twin of
  * operators.Dwh.cdcApply: each micro-batch of changelog rows (op I/U/D
  * + new state) applies onto the snapshot lake; the first batch
  * bootstraps from an empty snapshot (pure inserts).
  *
  * Replay semantics: foreachBatch is at-least-once — the batch that can
  * replay after a crash is the LAST one, and cdcApply is idempotent
  * under changelog replay (re-upserts land the same values, re-deletes
  * find nothing, re-inserts of now-present keys collapse to same-value
  * updates — DwhSpec locks this). A fresh-checkpoint FULL replay re-
  * applies every batch in order and converges to the same dimension
  * (spec-verified), because batches arrive time-ordered by contract.
  *
  * Like DimensionSink, the twin rewrites the compacted dimension per
  * batch, through [[graft.sources.Lake.swapIn]] so a failed batch
  * leaves the previous snapshot in place; at warehouse scale the
  * snapshot is bucket-partitioned by key and only touched buckets
  * rewrite (EventStream.upsertSink's dynamic-partition-overwrite
  * shape). Per-batch compute is bounded by cdcApply's shape: the
  * changelog collapses map-side and broadcasts — the snapshot is
  * joined, never shuffled.
  */
object CdcSink {

  /** Apply one micro-batch (or backfill frame) of changelog rows to the
    * snapshot lake. Lake schema: (key, state). */
  def applyBatch(batch: DataFrame, lakePath: String, key: String,
                 op: String, newState: String, ts: String,
                 ord: String): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.col
    Lake.swapIn(spark, lakePath) { next =>
      val snapshot = Lake.readStore(spark, lakePath).getOrElse(
        batch.select(col(key), col(newState).as("state")).limit(0))
      Dwh.cdcApply(snapshot, batch, key, "state", op, newState, ts, ord)
        .write.parquet(next)
    }
  }

  /** Checkpointed sink: incremental CDC apply per micro-batch. */
  def sink(changes: DataFrame, lakePath: String, checkpoint: String,
           key: String, op: String, newState: String, ts: String,
           ord: String): DataStreamWriter[Row] =
    Lake.batchSink(changes, checkpoint)((batch, _) =>
      applyBatch(batch, lakePath, key, op, newState, ts, ord))
}
