package graft.streaming

import graft.operators.Dwh
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** STREAMING accumulating-snapshot maintenance — the speed twin of
  * dwh_accumulating: every micro-batch of lifecycle events merges into
  * the persistent snapshot through `Dwh.accumulatingApply`, whose
  * `least`-merge is idempotent and order-insensitive — so at-least-once
  * redelivery, out-of-order batches and whole replays all converge to
  * the batch rebuild (the spec's equality). State is the
  * process-instance-count-sized snapshot itself, rewritten per batch
  * through [[Lake.swapIn]]: the previous snapshot stays until the new one
  * is fully on disk, and a crash mid-swap is finished by the replayed
  * batch, which then reads the previous snapshot instead of
  * re-initializing from one batch.
  */
object AccumulatingSink {

  def applyBatch(batch: DataFrame, statePath: String,
                 milestones: Seq[String]): Unit = {
    val spark = batch.sparkSession
    Lake.swapIn(spark, statePath) { next =>
      Lake.readStore(spark, statePath)
        .fold(Dwh.accumulatingSnapshot(batch, milestones))(
          Dwh.accumulatingApply(_, batch, milestones))
        .write.parquet(next)
    }
  }

  def sink(stream: DataFrame, statePath: String, checkpoint: String,
           milestones: Seq[String] = Seq("signup", "click", "purchase"))
      : DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)((batch, _) =>
      applyBatch(batch, statePath, milestones))

  def snapshot(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
}
