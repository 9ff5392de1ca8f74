package graft.streaming

import graft.functions.VectorFunctions._
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ANN-index ingest: each micro-batch of embedding rows is
  * assigned with the frozen codebook and appended into the
  * cell-partitioned lake, so probes see new vectors one micro-batch
  * after they arrive — no rebuild, no corpus rewrite.
  *
  * foreachBatch is at-least-once, and a bare append would duplicate the
  * whole batch on replay (the upsert-sink lesson) — so the admit is
  * idempotent: new vec_ids anti-join the lake BEFORE appending, and the
  * lake read is partition-pruned to exactly the cells this batch
  * touches (a literal isin filter from one driver-side ≤-batch-size
  * collect), so the check costs the touched directories, not the
  * corpus. Codebook re-training stays an offline corpus-versioning
  * concern — drift degrades recall, never correctness.
  */
object AnnIngest {

  /** Admit one micro-batch (or backfill frame): assign cells, drop
    * vec_ids the lake already holds, append the rest. */
  def admitBatch(batch: DataFrame, codebook: Seq[Seq[Double]],
                 lakePath: String): Unit = {
    // the assignment feeds the touched-cell collect AND the write —
    // materialize once
    val assigned = batch
      .dropDuplicates("vec_id")
      .withColumn("cell",
        coalesce(nearestCentroidId(col("embedding"), codebook), lit(-1)))
      .localCheckpoint(true)
    try {
      val fresh = Lake.readStore(batch.sparkSession, lakePath)
        .fold(assigned) { lake =>
          val cells = assigned.select("cell").distinct()
            .collect().map(_.getInt(0))
          assigned.join(
            lake.filter(col("cell").isin(cells.toSeq: _*)).select("vec_id"),
            Seq("vec_id"), "left_anti")
        }
      fresh.write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("cell").parquet(lakePath)
    } finally assigned.unpersist()
  }

  /** Checkpointed sink over `admitBatch`; replay appends nothing. */
  def sink(vectors: DataFrame, codebook: Seq[Seq[Double]], lakePath: String,
           checkpoint: String): DataStreamWriter[Row] =
    Lake.batchSink(vectors, checkpoint)((batch, _) =>
      admitBatch(batch, codebook, lakePath))
}
