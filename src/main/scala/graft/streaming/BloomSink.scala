package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming BLOOM-FILTER maintenance (r9) — the membership member of
  * the mergeable-sketch sink family ([[CmsSink]] answers "how many",
  * [[QuantileSketchSink]] "where in the distribution", [[TopKSink]]
  * "who leads"; this one answers "have we EVER seen this key" with no
  * false negatives): each micro-batch reduces to ONE row holding the
  * batch's sorted Bloom position set, and [[contains]] answers any
  * later membership probe against the union of those sets — no event
  * history is ever rescanned, and state is HARD-CAPPED at `bits`
  * positions per batch regardless of batch cardinality (the same
  * constant-size guarantee as the CMS sink, unlike TopK's top-M
  * store).
  *
  * The use case next to the batch twins: src_bloom_skip prunes FILE
  * reads with this structure, dd_incremental_bloom prunes dedup
  * lookups — the sink is the SPEED-layer builder of the same
  * structure, maintained as events arrive instead of by a nightly
  * scan. Position derivation runs through the engine's own `xxhash64`
  * Column with the identical (key, i) seeding as the batch builders,
  * so a probe re-derives positions through the SAME expression — no
  * second hash implementation to drift.
  *
  * The per-batch rows follow the replay discipline of
  * [[graft.sources.Lake.writeBatchPartition]] (positions are
  * deterministic in the batch's rows and set-union commutes), so
  * nothing double-inserts. No false negatives is the
  * spec-locked invariant: every streamed key probes present on any
  * replay/merge order; false positives cost one wasted downstream
  * lookup, exactly the src_bloom_skip trade.
  */
object BloomSink {

  private def positions(c: String, bits: Int, k: Int) =
    array((0 until k).map(i =>
      pmod(xxhash64(col(c), lit(i)), lit(bits)).cast("int")): _*)

  /** One micro-batch: the batch's own sorted position set, one row.
    * Also the backfill twin. */
  def sketchBatch(batch: DataFrame, batchId: Long, storePath: String,
                  c: String, bits: Int = 8192, k: Int = 4): Unit =
    Lake.writeBatchPartition(batch
      .select(explode(positions(c, bits, k)).as("p"))
      .agg(sort_array(collect_set(col("p"))).as("positions"),
        count(lit(1)).as("n_hashed")), batchId, storePath)

  def sink(stream: DataFrame, storePath: String, checkpoint: String,
           c: String, bits: Int = 8192, k: Int = 4)
      : DataStreamWriter[Row] =
    Lake.batchSink(stream, checkpoint)(
      sketchBatch(_, _, storePath, c, bits, k))

  /** Read side: probe the UNION position set for a caller's value
    * list — true = maybe present (FP-bounded), false = DEFINITELY
    * never streamed. The union collect is ≤ `bits` ints (parameter-
    * bounded, the justified scalar class); probes hash through the
    * same engine expression the sink ingested. */
  def contains(spark: SparkSession, storePath: String,
               probes: Seq[String], bits: Int = 8192, k: Int = 4)
      : DataFrame = {
    import spark.implicits._
    // probing before the first micro-batch commits: a missing store is
    // an EMPTY filter — everything is definitely-absent, not a crash
    val set = Lake.readStore(spark, storePath).fold(Set.empty[Int])(
      _.select(explode(col("positions")).as("p")).distinct()
        .collect().map(_.getInt(0)).toSet)
    val hashed = probes.toDF("value")
      .select(col("value"), positions("value", bits, k).as("ps"))
      .collect()
    hashed.toSeq.map { r =>
      val ps = r.getAs[scala.collection.Seq[Int]]("ps")
      (r.getString(0), ps.forall(set.contains))
    }.toDF("value", "maybe_present")
  }
}
