package graft.streaming

import graft.operators.Lambda
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Structured Streaming speed layer — the reference's Kafka weather
  * pipeline re-expressed (reference: work/spark_processor.py:26-47 JSON parse +
  * classify + to_json republish; work/spark_windowed_aggregation.py:31-44
  * sliding window aggregates; work/anomaly_detector.py:30-49 stream-static
  * anomaly join; work/weather_to_hdfs.py partitioned lake sink — the
  * reference did that one with a hand-rolled kafka-python consumer
  * appending files; here it is a checkpointed exactly-once streaming
  * sink).
  *
  * Transform logic is shared with the batch twins in graft.operators
  * (same Column expressions), so batch backfill and streaming agree by
  * construction — the Lambda-architecture property the reference builds
  * by hand.
  *
  * Sources are pluggable: every transform takes a plain DataFrame, so a
  * Kafka source (`readStream.format("kafka")`, which needs the
  * spark-sql-kafka connector on the classpath) plugs in where the tests
  * and the benchmark use MemoryStream or the JSON-lines `fileSource`.
  */
object EventStream {

  /** Wire schema of the event stream (JSON over the `value` column). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Kafka-envelope JSON parse (reference: spark_processor.py:26-32). */
  def parseJson(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), eventSchema).as("data"))
      .select("data.*")

  /** Alert classification — same expression as the batch twin. */
  def classify(events: DataFrame): DataFrame =
    events.withColumn("alert_level", Lambda.alertLevel(col("value")))

  /** Kafka-envelope JSON encode (reference: to_json(struct(*))). */
  def toJsonValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** Sliding event-time window aggregation with a watermark (reference:
    * spark_windowed_aggregation.py:31-41 — 5min window / 1min slide, avg/min/
    * max + critical-alert counts). The watermark bounds state: without
    * it, window state grows forever on an unbounded stream. */
  def slidingCounts(events: DataFrame,
                    windowLen: String = "5 minutes",
                    slide: String = "1 minute",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        avg("value").as("avg_value"),
        min("value").as("min_value"),
        max("value").as("max_value"),
        count(when(Lambda.alertLevel(col("value")) =!= "level_0", 1))
          .as("n_alerts"))

  /** Streaming exact dedup: drops events whose key was already seen
    * within the watermark horizon, so at-least-once delivery (Kafka
    * redeliveries, producer retries) becomes effectively-once for every
    * downstream aggregate. `dropDuplicatesWithinWatermark` evicts
    * per-key state once the watermark passes it — bounded state on an
    * unbounded stream, unlike plain dropDuplicates which pins every key
    * forever. Batch twin: Dedup.dropExactDuplicates (same keep-first
    * semantics, fingerprint key). */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes",
                  keys: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static anomaly join (reference: anomaly_detector.py:37-49): the
    * static profile side is broadcast into every micro-batch; anomalies
    * are μ±2σ outliers. `profiles` carries (p_day, p_type, value_mean,
    * value_std) from the batch layer (Lambda.dailyProfile). */
  def anomalies(stream: DataFrame, profiles: DataFrame): DataFrame =
    stream
      .withColumn("day", dayofmonth(col("ts")))
      .join(broadcast(profiles),
        col("day") === col("p_day") && col("event_type") === col("p_type"))
      .filter(abs(col("value") - col("value_mean")) > lit(2.0) * col("value_std"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("value_mean"), col("value_std"))

  /** Watermarked stream-stream interval join — the click-impression /
    * view-purchase attribution shape: each `follow` event pairs with the
    * same user's `lead` events at most `maxDelay` earlier. BOTH sides
    * carry watermarks and the join predicate bounds event-time distance,
    * so Spark evicts buffered rows once the watermark passes them —
    * bounded state on two unbounded streams (an unbounded-time join
    * would pin every row forever). Inner join: unmatched rows drop. */
  def attributionJoin(lead: DataFrame, follow: DataFrame,
                      key: String = "user_id",
                      maxDelay: String = "10 minutes",
                      watermark: String = "20 minutes"): DataFrame = {
    val l = lead.withWatermark("ts", watermark)
      .select(col(key).as("k"), col("ts").as("lead_ts"),
        col("event_id").as("lead_id"))
    val f = follow.withWatermark("ts", watermark)
      .select(col(key).as("fk"), col("ts").as("follow_ts"),
        col("event_id").as("follow_id"))
    l.join(f,
        col("k") === col("fk") &&
        col("follow_ts") >= col("lead_ts") &&
        col("follow_ts") <= col("lead_ts") + expr(s"INTERVAL $maxDelay"))
      .select(col("k").as(key), col("lead_id"), col("lead_ts"),
        col("follow_id"), col("follow_ts"))
  }

  /** Stream enrichment with the dimension version in force AT EVENT
    * TIME — the streaming as-of join (an SCD2-aware lookup: late events
    * get the OLD attribute, not today's). The dimension HISTORY packs
    * per key into one sorted (valid_from, attr) array and broadcasts;
    * the probe is then a row-local array scan (`filter` + last element
    * — O(versions/key), versions are bounded for any real dimension).
    * ZERO streaming state: no watermark, no buffered rows, any output
    * mode — where a stream-stream formulation would pin the dimension
    * in state forever. Events before the first version keep a null
    * attribute (left join semantics); re-broadcast cadence decides
    * dimension freshness, exactly like `anomalies`' profile frame. */
  def asofEnrich(stream: DataFrame, dimHistory: DataFrame,
                 key: String = "user_id", validFrom: String = "valid_from",
                 attr: String = "state"): DataFrame = {
    val packed = dimHistory.groupBy(col(key))
      .agg(sort_array(collect_list(struct(col(validFrom).as("vf"),
        col(attr).as("av")))).as("__vers"))
    stream.join(broadcast(packed), Seq(key), "left")
      .withColumn("__hits",
        filter(col("__vers"), v => v.getField("vf") <= col("ts")))
      .withColumn(attr,
        when(size(col("__hits")) > 0,
          element_at(col("__hits"), -1).getField("av")))
      .drop("__vers", "__hits")
  }

  // ---- sources / sinks ----------------------------------------------

  /** JSON-lines file source — the broker-free twin used in tests and
    * local lake replay (schema-on-read, bounded per-trigger intake). */
  def fileSource(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Idempotent lake UPSERT sink: foreachBatch + key-merge + dynamic
    * partition overwrite. Each micro-batch is merged into the lake BY
    * KEY: existing rows in the touched partitions whose key is not in
    * the batch are kept, batch rows win per key. So a partition fed by
    * many micro-batches accumulates correctly (a bare dynamic overwrite
    * would replace it with just the latest batch's rows), and replaying
    * a batch (checkpoint reset, backfill, at-least-once redelivery) is
    * a no-op rewrite, never a duplicate append. Partitions absent from
    * the batch are untouched; overwrite mode is set per-write on the
    * DataFrameWriter, not on the shared session conf. The checkpointed
    * lakeSink below covers normal exactly-once appends; this is the
    * recovery-safe variant for reprocessable pipelines. */
  def upsertSink(df: DataFrame, path: String, checkpoint: String,
                 partitionCols: Seq[String],
                 keyCols: Seq[String] = Seq("event_id")): DataStreamWriter[Row] =
    Lake.batchSink(df, checkpoint)((batch, _) =>
      upsertBatch(batch, path, partitionCols, keyCols))

  /** One micro-batch (or backfill frame) of the upsert merge — also the
    * batch-twin API. Its cost is bounded by the batch and the partitions
    * it touches, never by the rest of the lake:
    *  - the batch is deduped by key (at-least-once sources can repeat a
    *    key within one batch) and checkpointed, so its source is read
    *    once;
    *  - the distinct partition tuples it touches are collected (bounded
    *    by the partitions one batch writes) and the lake is read with the
    *    batch's schema (no inference job), cut to those tuples by a
    *    static predicate in the scan's PartitionFilters
    *    (`Lake.inPartitions`): untouched partitions are neither read nor
    *    rewritten;
    *  - existing rows whose key is not in the batch are kept, batch rows
    *    win per key, and the merge is written straight to the lake by
    *    dynamic partition overwrite. That is safe although the write reads
    *    the path it replaces: dynamic overwrite writes into a
    *    `.spark-staging-<job>` directory and swaps partition directories
    *    only at job commit, when every task reading the old files is done.
    * A lake without partition columns is one snapshot, replaced through
    * `Lake.swapIn`, so a failed batch leaves the previous one in place. */
  def upsertBatch(batch: DataFrame, path: String,
                  partitionCols: Seq[String], keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val spark = batch.sparkSession
    val fresh = batch.dropDuplicates(keyCols).localCheckpoint(true)
    try {
      def merged = Lake.readStore(spark, path, Some(fresh.schema))
        .fold(fresh) { existing =>
          val touched =
            if (partitionCols.isEmpty) existing
            else Lake.inPartitions(existing, partitionCols,
              fresh.select(partitionCols.map(col): _*).distinct().collect().toSeq)
          // no forced broadcast on the key side: micro-batches broadcast on
          // size estimation anyway, and a large backfill frame must not be
          touched
            .join(fresh.select(keyCols.map(col): _*), keyCols, "left_anti")
            .unionByName(fresh)
        }
      if (partitionCols.nonEmpty)
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCols: _*)
          .parquet(path)
      else Lake.swapIn(spark, path)(merged.write.parquet(_))
    } finally fresh.unpersist()
  }

  /** Streaming erasure: right-to-be-forgotten REQUESTS arrive as a
    * stream of keys and each micro-batch applies Dwh.forgetKeys to the
    * lake — partition-pruned rewrite of hit partitions only, stale-dir
    * cleanup for fully-emptied ones, per-partition audit rows appended
    * to `auditPath` (the erasure log a compliance review reads).
    * Replay-safe the same way the batch op is: re-forgetting an
    * already-erased key finds no hits and rewrites nothing; the audit
    * rows follow the replay discipline of `Lake.writeBatchPartition`, so
    * a replayed batch does not double-log. */
  def forgetSink(requests: DataFrame, lakePath: String, auditPath: String,
                 checkpoint: String, keyCol: String,
                 partitionCols: Seq[String]): DataStreamWriter[Row] =
    Lake.batchSink(requests, checkpoint)((batch, id) =>
      Lake.writeBatchPartition(graft.operators.Dwh.forgetKeys(
        batch.sparkSession, lakePath, batch.select(col(keyCol)),
        keyCol, partitionCols), id, auditPath))

  /** Partitioned parquet lake sink with checkpoint — exactly-once lake
    * appends (replaces the reference's hand-rolled HDFS append consumer). */
  def lakeSink(df: DataFrame, path: String, checkpoint: String,
               partitionCols: Seq[String]): DataStreamWriter[Row] = {
    val w = df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }
}
