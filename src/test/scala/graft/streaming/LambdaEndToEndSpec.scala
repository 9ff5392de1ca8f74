package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.Lambda
import org.apache.spark.sql.functions._

/** The reference's whole Lambda architecture, replayed end-to-end without
  * a broker: JSON event files (producer stand-in) → streaming speed layer
  * (parse → classify → partitioned lake sink) → batch layer over the
  * landed lake (daily profiles) → streaming serving layer (stream-static
  * anomaly join). Asserts the landed lake is lossless and the streamed
  * anomaly verdicts equal the batch twin's. */
class LambdaEndToEndSpec extends SparkSpec {

  test("speed layer -> lake -> batch profiles -> streaming anomalies") {
    val root = s"target/graft_io/lambda_e2e_${System.nanoTime()}"
    val events = Tables.events(spark, sf)

    // producer stand-in: land the events as JSON lines
    events
      .select(to_json(struct(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))).as("value"))
      .write.text(s"$root/incoming")

    // ---- speed layer: stream files -> classify -> partitioned lake ----
    val stream = EventStream.classify(EventStream.parseJson(
      spark.readStream.text(s"$root/incoming").select(col("value"))))
    val q1 = EventStream.lakeSink(stream, s"$root/lake", s"$root/ckpt1",
      Seq("alert_level")).outputMode("append").start()
    try { q1.processAllAvailable() } finally q1.stop()

    val lake = spark.read.parquet(s"$root/lake")
    assert(lake.count() == events.count(), "lake landing must be lossless")
    assert(lake.select("alert_level").distinct().count() >= 2)

    // ---- batch layer: daily profiles from the landed lake ----
    val profiles = Lambda.dailyProfile(lake)
      .select(col("day").as("p_day"), col("event_type").as("p_type"),
        col("value_mean"), col("value_std"))

    // ---- serving layer: re-stream the raw files against the profiles ----
    val anomalyStream = EventStream.anomalies(
      EventStream.parseJson(
        spark.readStream.text(s"$root/incoming").select(col("value"))),
      profiles)
    val q2 = anomalyStream.writeStream.format("memory")
      .queryName("e2e_anomalies").outputMode("append").start()
    try { q2.processAllAvailable() } finally q2.stop()

    val streamedAnoms = spark.table("e2e_anomalies")
      .select("event_id").collect().map(_.getLong(0)).toSet
    // batch twin over the same data
    val batchAnoms = Lambda.anomalies(events)
      .agg(sum("n_anomalies")).first().getLong(0)
    assert(streamedAnoms.size.toLong == batchAnoms,
      s"stream found ${streamedAnoms.size}, batch found $batchAnoms")
    assert(streamedAnoms.nonEmpty)
  }
}
