package graft.streaming

import graft.operators.Stats
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** ONLINE model training as a stream sink — the speed twin of
  * st_logreg_gd: every micro-batch applies one (or a few) full-batch
  * gradient steps to a logistic model and persists the post-batch
  * weights, so the model tracks the stream without ever rescanning
  * history. This is the streaming half of a training-data pipeline's
  * feedback loop (quality scorer / filter model refreshed from live
  * traffic).
  *
  * State design (the part that must survive failure): weights live in a
  * tiny per-batch store, one row per micro-batch, under the replay
  * discipline of [[graft.sources.Lake.writeBatchPartition]]. Each batch
  * starts from the latest row STRICTLY BELOW its own id, so a replayed
  * batch recomputes from exactly the state it saw the first time and
  * rewrites identical weights instead of double-stepping. The weight
  * history this leaves behind is the model's audit trail for free.
  *
  * Scale shape: the per-batch step is Stats.logisticStep — one
  * map-side-combined aggregate over the batch, weights inlined as
  * literals; driver traffic is one (dims+1)-double row per batch. The
  * state frame is batches-sized, never data-sized; the `__batch < id`
  * read prunes to nothing but parquet footers of a handful of
  * partitions.
  */
object OnlineSgdSink {

  /** Latest persisted weights strictly below `batchId` (zeros when the
    * state is empty — a fresh model). */
  def weightsBefore(spark: org.apache.spark.sql.SparkSession,
                    statePath: String, batchId: Long, dims: Int)
      : Array[Double] = {
    val rows = Lake.readStore(spark, statePath).fold(Array.empty[Row])(
      _.filter(col("__batch") < batchId)
        .orderBy(col("__batch").desc).limit(1).collect())
    if (rows.isEmpty) Array.fill(dims + 1)(0.0)
    else rows.head.getSeq[Double](rows.head.fieldIndex("w")).toArray
  }

  /** One micro-batch of the online update — also the backfill twin.
    * `batch` must carry feature cols x1..xdims and a 0/1 double `y`. */
  def sgdBatch(batch: DataFrame, batchId: Long, statePath: String,
               dims: Int, lr: Double, stepsPerBatch: Int): Unit = {
    val spark = batch.sparkSession
    var w = weightsBefore(spark, statePath, batchId, dims)
    if (!batch.isEmpty) {
      val feats = batch.localCheckpoint(true)
      try {
        for (_ <- 0 until stepsPerBatch) w = Stats.logisticStep(feats, w, lr)
      } finally feats.unpersist()
    }
    import spark.implicits._
    Lake.writeBatchPartition(Seq(w.toSeq).toDF("w"), batchId, statePath)
  }

  /** The streaming writer: wire a feature stream in, point it at a
    * state path, start. */
  def sink(stream: DataFrame, statePath: String, checkpoint: String,
           dims: Int = 3, lr: Double = 5.0,
           stepsPerBatch: Int = 1): DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(
      sgdBatch(_, _, statePath, dims, lr, stepsPerBatch))
}
