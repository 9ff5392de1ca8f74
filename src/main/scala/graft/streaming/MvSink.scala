package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming materialized-view maintenance — the speed-layer twin of
  * Dwh.mvRefresh for ADDITIVE aggregates (sum/count).
  *
  * Exactly-once without a transactional table format: each micro-batch
  * writes its PARTIAL aggregate under the replay discipline of
  * [[graft.sources.Lake.writeBatchPartition]], so a replayed batch
  * replaces its own partial instead of double-adding (the failure mode
  * of merge-into-the-standing-view designs). The queryable view is
  * a rollup OF the partials (batches × keys rows — agg-sized, never
  * data-sized), and `compact` folds history into one partition so the
  * partial count stays bounded.
  */
object MvSink {

  /** Continuous MV maintenance: micro-batch → partial agg → idempotent
    * per-batch partition write. */
  def mvSink(df: DataFrame, path: String, checkpoint: String,
             keys: Seq[String], addCols: Seq[String]): DataStreamWriter[Row] =
    Lake.batchSink(df, checkpoint)(mvBatch(_, path, keys, addCols, _))

  /** One micro-batch (also the backfill/batch-twin API). */
  def mvBatch(batch: DataFrame, path: String, keys: Seq[String],
              addCols: Seq[String], batchId: Long): Unit = {
    val aggs = addCols.map(c => sum(c).as(c))
    Lake.writeBatchPartition(
      batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*),
      batchId, path)
  }

  /** The queryable view: merge every batch's partial (γ over the
    * partial frame — agg-sized input, one small shuffle). */
  def readView(spark: org.apache.spark.sql.SparkSession, path: String,
               keys: Seq[String], addCols: Seq[String]): DataFrame = {
    val aggs = addCols.map(c => sum(c).as(c))
    spark.read.parquet(path)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold all partials into a single `__batch=-1` partition and drop
    * the per-batch history, bounding the partial count between
    * compactions. Run from maintenance, not the hot path; the fold
    * replaces the store through [[graft.sources.Lake.swapIn]], so a
    * failed compaction leaves the partials as they were. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              keys: Seq[String], addCols: Seq[String]): Unit =
    Lake.swapIn(spark, path) { next =>
      readView(spark, path, keys, addCols)
        .withColumn("__batch", lit(-1L))
        .write.partitionBy("__batch").parquet(next)
    }
}
