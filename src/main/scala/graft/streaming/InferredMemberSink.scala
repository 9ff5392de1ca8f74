package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming LATE-ARRIVING DIMENSION maintenance — the speed-layer twin
  * of operators.Dwh.lateArrivingDim's ledger: the FACT stream must
  * never block on the dimension load, so every fact-referenced key
  * missing from the dim lake is admitted as an INFERRED MEMBER
  * (placeholder row, attributes null, `inferred` = true), and the DIM
  * stream heals placeholders type-1 (overwrite in place) when the real
  * row arrives. Facts are never re-keyed or re-loaded — exactly the
  * Kimball contract, per micro-batch.
  *
  * Replay semantics (both sinks at-least-once):
  *   - facts: placeholder admission is an anti-join against the lake's
  *     key set — a replayed batch finds its keys present and appends
  *     nothing;
  *   - dims: the batch collapses to latest-per-key (ts, ord order)
  *     before a key-match overwrite — re-applying overwrites with the
  *     same values. Both are spec-verified including fresh-checkpoint
  *     full replays.
  *
  * The twin rewrites the whole (per-key-compacted) dim lake per dim
  * batch, through [[graft.sources.Lake.swapIn]] so a failed batch
  * leaves the previous lake in place; at warehouse scale the dim is
  * bucket-partitioned on the key and only touched buckets rewrite
  * (EventStream.upsertSink's dynamic-partition-overwrite shape) —
  * per-batch cost proportional to the batch's key set either way, and
  * the facts-side anti-join is one key-equi probe of the lake, never a
  * scan of fact history. */
object InferredMemberSink {

  /** Admit one fact micro-batch: append a placeholder for every
    * referenced key the dim lake does not yet carry. */
  def admitFacts(batch: DataFrame, dimPath: String,
                 factKey: String): Unit = {
    val keys = batch.select(col(factKey).cast("long").as("dim_key"))
      .distinct()
    val missing = Lake.readStore(batch.sparkSession, dimPath).fold(keys)(
      dim => keys.join(dim.select("dim_key"), Seq("dim_key"), "left_anti"))
    val placeholders = missing
      .select(col("dim_key"), lit(null).cast("string").as("state"),
        lit(true).as("inferred"))
      .localCheckpoint(true)
    try placeholders.write.mode("append").parquet(dimPath)
    finally placeholders.unpersist()
  }

  /** Heal one dimension micro-batch: latest-per-key real rows overwrite
    * placeholders (and any older real row) type-1; unseen keys insert
    * as regular members. */
  def healDims(batch: DataFrame, dimPath: String, dimKey: String,
               state: String, ts: String, ord: String): Unit = {
    val spark = batch.sparkSession
    val latest = batch
      .groupBy(col(dimKey).cast("long").as("dim_key"))
      .agg(max(struct(col(ts).as("__t"), col(ord).as("__o"),
        col(state).as("__s"))).getField("__s").as("state"))
      .withColumn("inferred", lit(false))
    Lake.swapIn(spark, dimPath) { next =>
      Lake.readStore(spark, dimPath).fold(latest)(
        _.join(latest.select("dim_key"), Seq("dim_key"), "left_anti")
          .unionByName(latest))
        .write.parquet(next)
    }
  }

  /** Checkpointed fact-side sink: placeholder admission per batch. */
  def factsSink(facts: DataFrame, dimPath: String, checkpoint: String,
                factKey: String): DataStreamWriter[Row] =
    Lake.batchSink(facts, checkpoint)((batch, _) =>
      admitFacts(batch, dimPath, factKey))

  /** Checkpointed dim-side sink: type-1 healing per batch. */
  def dimsSink(dims: DataFrame, dimPath: String, checkpoint: String,
               dimKey: String, state: String, ts: String,
               ord: String): DataStreamWriter[Row] =
    Lake.batchSink(dims, checkpoint)((batch, _) =>
      healDims(batch, dimPath, dimKey, state, ts, ord))
}
