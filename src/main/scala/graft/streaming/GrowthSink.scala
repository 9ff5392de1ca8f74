package graft.streaming

import graft.operators.Windows
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** STREAMING GROWTH ACCOUNTING — the speed twin of
  * w28_growth_accounting: each micro-batch lands its distinct
  * (user, week) activity partials in a persistent store, and
  * [[report]] rebuilds the full new/retained/resurrected/churned
  * ledger at any moment — the live growth dashboard without a nightly
  * batch.
  *
  * State design: (user, week) activity is MERGEABLE (a user active in
  * any batch that week is active that week — distinct-union), so the
  * store is one distinct partial per batch under the replay discipline
  * of [[graft.sources.Lake.writeBatchPartition]].
  *
  * Report = ONE distinct-union of the store fed through the SAME
  * [[Windows.growthAccounting]] ledger the batch surface runs — one
  * definition, two surfaces; the spec pins streamed ≡ batch on the
  * union including the cross-batch resurrection case. */
object GrowthSink {

  def incrementsBatch(batch: DataFrame, batchId: Long,
                      statePath: String): Unit = {
    Lake.writeBatchPartition(batch
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct(), batchId, statePath)
  }

  /** The live ledger over every stored partial: distinct-merge, then
    * the batch ledger verbatim (growthAccounting re-collapses to
    * distinct (user, week) itself, so feeding it week-start
    * timestamps is exact). */
  def report(spark: SparkSession, statePath: String): DataFrame =
    Windows.growthAccounting(
      spark.read.parquet(statePath)
        .select(col("user_id"), col("week").cast("timestamp").as("ts")))

  def sink(stream: DataFrame, statePath: String,
           checkpoint: String): DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(incrementsBatch(_, _, statePath))
}
