package graft.streaming

import graft.operators.Stats
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** LIVE A/B-test monitor as a stream sink — the speed twin of st_power:
  * every micro-batch lands its per-user conversion partials in a
  * persistent store, and [[report]] answers "what are the arm rates,
  * and is the test powered yet" at any moment without rescanning
  * history — the dashboard loop an experimentation desk actually runs
  * while a test is live.
  *
  * State design: per-user `max(conv)` partials are MERGEABLE (a user
  * who converts in any batch is converted — max over batches), so the
  * store is one rollup per batch under the replay discipline of
  * [[graft.sources.Lake.writeBatchPartition]]. Arms come from
  * [[Stats.md5Arm]] — the same deterministic split st_power and dq_srm
  * audit, so batch and stream agree user-by-user.
  *
  * Scale shape: the per-batch increment is one map-side-combined
  * (user) rollup over the batch; the store grows by
  * active-users-per-batch rows; [[report]] collapses it in one
  * two-level rollup (user max → arm counts) and runs st_power's
  * 1-row formula via [[Stats.powerFromArms]] — one definition, two
  * surfaces.
  */
object AbMonitorSink {

  /** One micro-batch of per-user conversion partials — also the
    * backfill twin. `batch` carries (user_id, event_type, value). */
  def incrementsBatch(batch: DataFrame, batchId: Long, statePath: String,
                      minValue: Double = 95.0): Unit = {
    Lake.writeBatchPartition(batch.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > minValue, 1).otherwise(0)).as("conv"))
      .withColumn("arm", Stats.md5Arm(col("user_id"))), batchId, statePath)
  }

  /** The live power report over every stored partial: user-level max
    * merge, arm rollup, st_power's formula. */
  def report(spark: SparkSession, statePath: String): DataFrame = {
    val arms = spark.read.parquet(statePath)
      .groupBy("user_id", "arm").agg(max("conv").as("conv"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").cast("long").as("k"))
    Stats.powerFromArms(arms)
  }

  def sink(stream: DataFrame, statePath: String, checkpoint: String,
           minValue: Double = 95.0): DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(
      incrementsBatch(_, _, statePath, minValue))
}
