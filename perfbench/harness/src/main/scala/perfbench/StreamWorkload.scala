package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Lambda
import graft.streaming.EventStream

/** The Lambda chain over staged JSON-lines event files, one pass per
  * fresh lake: speed layer (`fileSource` → `classify` → `upsertSink`, a
  * day-partitioned key-merge lake, `filesPerTrigger` files a
  * micro-batch), batch layer (`Lambda.dailyProfile` over the lake) and
  * serving layer (`EventStream.anomalies`, the raw files re-streamed in
  * one trigger against the profiles). Each speed-layer micro-batch is an
  * operation; its latency is the trigger duration.
  *
  * The check after each pass (untimed) requires the lake to hold exactly
  * the classified, key-deduplicated source events, `Lambda.alertClassify`
  * counts over the lake to equal those over the source, and the streamed
  * anomalies, by key, to equal `Lambda.anomalies` per (day, event type). */
final class StreamWorkload(spark: SparkSession, spans: Spans, events: String,
                           filesPerTrigger: Int, work: File) extends Main.Workload {
  private val sc = spark.sparkContext

  def pass(passId: Long, index: Int): Unit = {
    val dir = new File(work, s"p$index")
    val lake = new File(dir, "lake").getAbsolutePath
    speed(passId, lake, new File(dir, "ckpt_speed").getAbsolutePath)
    val profiles = profile(passId, lake)
    val view = s"pb_anomalies_$index"
    serve(passId, profiles, view, new File(dir, "ckpt_serve").getAbsolutePath)
    spans.timed(passId, "check", "lambda gate") { id =>
      sc.setJobGroup(Groups.of(id, "check"), "lambda gate")
      try check(passId, lake, view) finally sc.clearJobGroup()
      spark.catalog.dropTempView(view)
    }
    deleteTree(dir)
  }

  private def speed(passId: Long, lake: String, ckpt: String): Unit = {
    val op = spans.nextId()
    val t0 = Clock.nowNs
    val stream = EventStream.classify(EventStream.fileSource(spark, events, filesPerTrigger))
      .withColumn("dt", to_date(col("ts")))
    val q = EventStream.upsertSink(stream, lake, ckpt, Seq("dt")).start()
    Groups.registerStream(q.runId.toString, op)
    try q.processAllAvailable() finally q.stop()
    val t1 = Clock.nowNs
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    batches.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val startNs = start.getEpochSecond * 1000000000L + start.getNano
      val ms = p.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).longValue
      spans.add(spans.nextId(), op, "batch", s"batch ${p.batchId}", startNs,
        startNs + ms * 1000000L, Map("input_rows" -> p.numInputRows))
    }
    spans.add(op, passId, "op", "speed_layer", t0, t1,
      Map("batches" -> batches.length, "input_rows" -> batches.map(_.numInputRows).sum)
        ++ q.exception.map(e => "error" -> e.getMessage))
  }

  private def profile(passId: Long, lake: String): DataFrame = {
    val op = spans.nextId()
    val t0 = Clock.nowNs
    sc.setJobGroup(Groups.of(op, "build"), "batch_profile")
    val (prof, _) = spans.timed(op, "build", "batch_profile") { _ =>
      Lambda.dailyProfile(spark.read.parquet(lake))
        .select(col("day").as("p_day"), col("event_type").as("p_type"),
          col("value_mean"), col("value_std"))
    }
    sc.setJobGroup(Groups.of(op, "action"), "batch_profile")
    val (rows, _) = spans.timed(op, "action", "batch_profile")(_ => prof.collect())
    sc.clearJobGroup()
    spans.add(op, passId, "op", "batch_profile", t0, Clock.nowNs, Map("rows" -> rows.length))
    spark.createDataFrame(rows.toList.asJava, prof.schema)
  }

  private def serve(passId: Long, profiles: DataFrame, view: String, ckpt: String): Unit = {
    val op = spans.nextId()
    val t0 = Clock.nowNs
    val files = Option(new File(events).list()).fold(1)(_.length)
    val q = EventStream.anomalies(EventStream.fileSource(spark, events, files), profiles)
      .writeStream.format("memory").queryName(view).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    Groups.registerStream(q.runId.toString, op)
    try q.processAllAvailable() finally q.stop()
    spans.add(op, passId, "op", "serving", t0, Clock.nowNs,
      q.exception.map(e => "error" -> e.getMessage).toMap)
  }

  /** What the key-deduplicated source events say the lake and the
    * anomalies must be: (keys, classified rows, alert class counts,
    * anomalies per day and type). The class counts leave out
    * `alertClassify`'s rounded average: round(avg, 4) of the same values
    * can differ in the last digit with the summation order when the
    * average falls on a half (seed 10: 352.64125). */
  private lazy val expected: (Long, Seq[String], Seq[String], Seq[String]) = {
    val source = spark.read.schema(EventStream.eventSchema).json(events).dropDuplicates("event_id")
    (source.count(), sorted(EventStream.classify(source).select(lakeCols: _*)),
      sorted(classCounts(source)),
      sorted(Lambda.anomalies(source).select("day", "event_type", "n_anomalies")))
  }

  private val lakeCols = Seq("event_id", "ts", "user_id", "event_type", "value", "alert_level").map(col)

  private def classCounts(df: DataFrame): DataFrame =
    Lambda.alertClassify(df).select("event_type", "alert_level", "n")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def check(passId: Long, lake: String, view: String): Unit = {
    val (keys, rows, classes, anomalies) = expected
    val landed = spark.read.parquet(lake)
    val lakeOk = sorted(landed.select(lakeCols: _*)) == rows && sorted(classCounts(landed)) == classes
    val streamed = spark.table(view).dropDuplicates("event_id")
      .groupBy(dayofmonth(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_anomalies"))
    val anomaliesOk = sorted(streamed) == anomalies
    val t = Clock.nowNs
    spans.add(spans.nextId(), passId, "gate", "lambda gate", t, t,
      Map("lake_ok" -> lakeOk, "anomalies_ok" -> anomaliesOk, "events" -> keys))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
