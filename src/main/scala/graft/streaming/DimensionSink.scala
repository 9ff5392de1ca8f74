package graft.streaming

import graft.operators.Dwh
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming SCD2 dimension maintenance — the speed-layer twin of
  * operators.Dwh.scd2Apply: each micro-batch of observed (key, state)
  * changes merges into the SCD2 lake, closing open versions a new state
  * supersedes and opening the new ones. The first batch bootstraps the
  * table via scd2Build.
  *
  * Replay semantics: foreachBatch is at-least-once; scd2Apply's
  * ts-after-open-version guard makes a replayed batch a no-op (every
  * observation lands at-or-before the version it already opened), so
  * the history never duplicates — spec-verified including a fresh-
  * checkpoint full replay.
  *
  * The twin rewrites the whole (tiny, per-key-compacted) dimension per
  * batch for simplicity, through [[graft.sources.Lake.swapIn]] so a
  * failed batch leaves the previous table in place; at warehouse scale
  * the SCD2 table is laid out partitioned by a key bucket and only
  * touched buckets are rewritten (same dynamic-partition-overwrite
  * shape as EventStream.upsertSink) —
  * per-batch cost stays proportional to the batch's key set either way.
  */
object DimensionSink {

  /** Merge one micro-batch (or backfill frame) into the SCD2 lake. */
  def applyBatch(batch: DataFrame, lakePath: String, key: String,
                 state: String, ts: String, ord: String): Unit = {
    val spark = batch.sparkSession
    Lake.swapIn(spark, lakePath) { next =>
      Lake.readStore(spark, lakePath)
        .fold(Dwh.scd2Build(batch, key, state, ts, ord))(
          Dwh.scd2Apply(_, batch, key, state, ts, ord))
        .write.parquet(next)
    }
  }

  /** Checkpointed sink: incremental SCD2 maintenance per micro-batch. */
  def sink(changes: DataFrame, lakePath: String, checkpoint: String,
           key: String, state: String, ts: String,
           ord: String): DataStreamWriter[Row] =
    Lake.batchSink(changes, checkpoint)((batch, _) =>
      applyBatch(batch, lakePath, key, state, ts, ord))
}
