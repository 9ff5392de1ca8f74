package graft.streaming

import graft.operators.Quality
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming TABLE-FINGERPRINT maintenance — the speed twin of
  * dq_fingerprint (the replication verifier as a LIVE invariant: the
  * consumer keeps a running fingerprint of everything it has applied,
  * and any moment's value can be checked against a batch recompute on
  * the source — the end-to-end "did we drop or double-apply anything"
  * monitor a CDC pipeline needs): the md5-fold is an ABELIAN sum, so
  * each micro-batch reduces to one (n_rows, hash-sum) partial and the
  * whole-history fingerprint is just the partial sums re-summed mod
  * 1e18 — constant state per batch, no history rescan, and the
  * reported value is DEFINITIONALLY equal to
  * [[graft.operators.Quality.tableFingerprint]] on the union (one
  * hash Column — [[graft.operators.Quality.orderRowHash]] — under
  * both surfaces; the spec locks streamed ≡ batch).
  *
  * The partials follow the replay discipline of
  * [[graft.sources.Lake.writeBatchPartition]], so nothing
  * double-counts. */
object FingerprintSink {

  private val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
  private val Mod = 1000000000000000000L

  /** One micro-batch: the batch's own (n_rows, hash-sum) partial. Also
    * the backfill twin. */
  def fingerprintBatch(batch: DataFrame, batchId: Long,
                       storePath: String): Unit =
    Lake.writeBatchPartition(batch
      .select(Quality.orderRowHash.as("h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("h").cast(Dec)), lit(0).cast(Dec)).as("hsum")),
      batchId, storePath)

  def sink(stream: DataFrame, storePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(fingerprintBatch(_, _, storePath))

  /** Read side: the whole-history fingerprint — partial sums re-summed
    * (abelian, so batch boundaries and arrival order cannot matter),
    * one mod at the close. Bit-equal to the batch dq_fingerprint on
    * the same rows. */
  def report(spark: SparkSession, storePath: String): DataFrame = {
    // probing before the first micro-batch commits reports the empty
    // history (0 rows, fingerprint 0), not a missing-path crash
    import spark.implicits._
    val stored = Lake.readStore(spark, storePath).getOrElse(
      Seq.empty[(Long, java.math.BigDecimal)].toDF("n_rows", "hsum"))
    stored
      .agg(coalesce(sum("n_rows"), lit(0L)).cast("long").as("n_rows"),
        pmod(coalesce(sum("hsum"), lit(0).cast(Dec)),
          lit(Mod).cast(Dec)).cast("long").as("fingerprint"))
  }
}
