package graft.streaming

import graft.operators.Stats
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** STREAMING HEAVY-HITTERS as a stream sink — the speed twin of
  * st_freq_topn: every micro-batch lands its per-value counts in a
  * persistent store and [[report]] answers "what are the top-k values
  * so far" at any moment without rescanning history — the live
  * trending-values loop next to AbMonitorSink's live experiment.
  *
  * State design: per-value counts are MERGEABLE (counts add across
  * batches), so the store is one rollup per batch under the replay
  * discipline of [[graft.sources.Lake.writeBatchPartition]].
  *
  * Scale shape: the per-batch increment is one map-side-combined
  * value rollup over the batch, CAPPED at the top `capM` values per
  * batch (SpaceSaving-style, r9): on an unbounded key domain the raw
  * rollup would grow the store by distinct-values-per-batch rows —
  * a real 100 TB leak — so eviction keeps the M largest counts
  * (deterministic count-desc/value-asc order) and records the largest
  * EVICTED count as the batch's `__cut` undercount bound. A true
  * heavy hitter is in every batch's top-M for any M ≫ k, so its
  * merged count stays EXACT; a value evicted from some batch is
  * undercounted by at most that batch's `__cut`, which [[reportBounds]]
  * turns into a per-value [n_lo, n_hi] bracket (the mergeable-summary
  * guarantee of Agarwal et al., SpaceSaving form). [[report]] collapses
  * the store in one rollup and ranks through [[Stats.topNFromCounts]]
  * — the SAME ordering/tiebreak as the batch st_freq_topn, one
  * definition, two surfaces.
  */
object TopKSink {

  /** One micro-batch of per-value count partials — also the backfill
    * twin. `capM` bounds the stored rows per batch (top-M by count,
    * value-asc tiebreak); the largest evicted count rides on every
    * kept row as `__cut` (0 when nothing evicts). */
  def incrementsBatch(batch: DataFrame, batchId: Long, statePath: String,
                      c: String, capM: Int = 4096): Unit = {
    // top-(M+1) via TakeOrdered (M+1 rows to the driver, re-scattered);
    // localCheckpoint so kept/cut don't recompute the batch rollup
    val top = batch.groupBy(c)
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(c).asc)
      .limit(capM + 1)
      .withColumn("__r", row_number().over(
        Window.orderBy(col("n").desc, col(c).asc)))
      .localCheckpoint(true)
    val cut = top.agg(
      coalesce(max(when(col("__r") === capM + 1, col("n"))), lit(0L))
        .as("__cut"))
    Lake.writeBatchPartition(top.filter(col("__r") <= capM).drop("__r")
      .crossJoin(broadcast(cut)), batchId, statePath)
  }

  /** The live top-k over every stored partial: one merge rollup, then
    * the batch ranking verbatim. Counts are exact below the cap and
    * lower bounds above it (see [[reportBounds]] for the bracket). */
  def report(spark: SparkSession, statePath: String, c: String,
             k: Int): DataFrame =
    Stats.topNFromCounts(
      spark.read.parquet(statePath)
        .groupBy(c).agg(sum("n").as("n")), c, k)

  /** Top-k with the SpaceSaving undercount bracket: `n_lo` = merged
    * stored counts (what [[report]] ranks by), `n_hi` = n_lo + the
    * summed `__cut` of every batch the value was ABSENT from — the
    * most it could have lost to eviction. Exact values show
    * n_lo = n_hi. One store rollup + a batch-count-sized broadcast. */
  def reportBounds(spark: SparkSession, statePath: String, c: String,
                   k: Int): DataFrame = {
    val st = spark.read.parquet(statePath)
    val totalCut = st.groupBy("__batch")
      .agg(first("__cut").as("__bc"))
      .agg(coalesce(sum("__bc"), lit(0L)).as("__tc"))
    val merged = st.groupBy(c)
      .agg(sum("n").as("n"), sum("__cut").as("__pc"))
    Stats.topNFromCounts(
      merged.crossJoin(broadcast(totalCut))
        .select(col(c), col("n"),
          (col("n") + col("__tc") - col("__pc")).as("n_hi")), c, k)
      .select(col(c), col("n").as("n_lo"), col("n_hi"))
  }

  def sink(stream: DataFrame, statePath: String, checkpoint: String,
           c: String, capM: Int = 4096): DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(
      incrementsBatch(_, _, statePath, c, capM))
}
