package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryException}

/** Crash-mid-batch resume: each sink's batch twin runs under a
  * foreachBatch that fails right after batch `crashAt` has written its
  * state, and the sink's real `sink(...)` then restarts on the SAME
  * checkpoint, so Spark re-runs that batch id over the same input
  * files. The store it leaves must report exactly what an uncrashed run
  * and a one-shot batch twin over every event report. */
class CrashResumeSpec extends SparkSpec {

  private val crashAt = 1L
  private val types = Seq("signup", "click", "purchase", "view")

  /** One JSON-lines event; whole-number values keep every sum exact
    * whatever the batch split. */
  private def event(id: Long, b: Int, i: Int): String =
    f"""{"event_id":$id,"ts":"2024-01-${b * 7 + 1 + i % 3}%02dT${i % 24}%02d:00:00Z",""" +
      f""""user_id":${i % 13},"event_type":"${types((i + b) % 4)}",""" +
      f""""value":${(i * 37 + b * 11) % 200}.0}"""

  /** Three event files, one micro-batch each (oldest first); the last
    * redelivers five of the middle file's events verbatim. */
  private def stage(dir: String): Unit = {
    val d = new File(dir)
    d.mkdirs()
    val t0 = System.currentTimeMillis() - 60000L
    (0 until 3).foreach { b =>
      val own = (0 until 40).map(i => event(b * 100L + i, b, i))
      val rows = if (b == 2) own ++ (0 until 5).map(i => event(100L + i, 1, i)) else own
      val f = new File(d, s"events_$b.json")
      Files.write(f.toPath, rows.mkString("", "\n", "\n").getBytes(UTF_8))
      f.setLastModified(t0 + b * 10000L)
    }
  }

  private case class SinkCase(
      prep: DataFrame => DataFrame,
      twin: (DataFrame, Long, String) => Unit,
      sink: (DataFrame, String, String) => DataStreamWriter[Row],
      report: String => DataFrame)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def resumeMatches(name: String, c: SinkCase): Unit = {
    val dir = s"target/graft_io/crash_${name}_${System.nanoTime()}"
    stage(s"$dir/events")
    def stream() = c.prep(EventStream.fileSource(spark, s"$dir/events", 1))
    def drain(w: DataStreamWriter[Row]) = {
      val q = w.start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    val ckpt = s"$dir/ckpt"
    val crashing = stream().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        c.twin(b, id, s"$dir/crashed")
        if (id == crashAt)
          throw new IllegalStateException(s"injected crash after batch $id's write")
      }.start()
    try intercept[StreamingQueryException](crashing.processAllAvailable())
    finally crashing.stop()
    assert(new File(s"$ckpt/offsets/$crashAt").exists &&
      !new File(s"$ckpt/commits/$crashAt").exists,
      "the crashed batch must be planned but uncommitted")

    val resumed = drain(c.sink(stream(), s"$dir/crashed", ckpt))
    assert(resumed.recentProgress.map(_.batchId).min == crashAt,
      "the restart must re-run the crashed batch id")
    drain(c.sink(stream(), s"$dir/clean", s"$dir/ckpt_clean"))
    c.twin(c.prep(spark.read.schema(EventStream.eventSchema)
      .json(s"$dir/events")), 0L, s"$dir/twin")

    val want = canon(c.report(s"$dir/twin"))
    assert(want.nonEmpty)
    assert(canon(c.report(s"$dir/crashed")) == want,
      s"$name: resumed store diverges from the batch twin")
    assert(canon(c.report(s"$dir/clean")) == want,
      s"$name: uncrashed store diverges from the batch twin")
  }

  test("crash-resume: CmsSink") {
    val probes = types :+ "none"
    resumeMatches("cms", SinkCase(identity,
      CmsSink.sketchBatch(_, _, _, "event_type"),
      CmsSink.sink(_, _, _, "event_type"),
      CmsSink.estimates(spark, _, probes)))
  }

  test("crash-resume: BloomSink") {
    val key = (df: DataFrame) =>
      df.withColumn("key", concat(lit("u"), col("user_id").cast("string")))
    resumeMatches("bloom", SinkCase(key,
      BloomSink.sketchBatch(_, _, _, "key"),
      BloomSink.sink(_, _, _, "key"),
      BloomSink.contains(spark, _, (0 until 20).map(i => s"u$i"))))
  }

  test("crash-resume: FingerprintSink") {
    val asOrders = (df: DataFrame) => df.select(col("event_id").as("o_orderkey"),
      col("user_id").as("o_custkey"), col("event_type").as("o_orderstatus"),
      col("value").as("o_totalprice"), to_date(col("ts")).as("o_orderdate"),
      col("event_type").as("o_orderpriority"))
    resumeMatches("fingerprint", SinkCase(asOrders,
      FingerprintSink.fingerprintBatch, FingerprintSink.sink,
      FingerprintSink.report(spark, _)))
  }

  test("crash-resume: TopKSink") {
    resumeMatches("topk", SinkCase(identity,
      TopKSink.incrementsBatch(_, _, _, "event_type"),
      TopKSink.sink(_, _, _, "event_type"),
      TopKSink.report(spark, _, "event_type", 3)))
  }

  test("crash-resume: GrowthSink") {
    resumeMatches("growth", SinkCase(identity,
      GrowthSink.incrementsBatch, GrowthSink.sink, GrowthSink.report(spark, _)))
  }

  test("crash-resume: AbMonitorSink") {
    resumeMatches("ab", SinkCase(identity,
      AbMonitorSink.incrementsBatch(_, _, _), AbMonitorSink.sink(_, _, _),
      AbMonitorSink.report(spark, _)))
  }

  test("crash-resume: QuantileSketchSink") {
    resumeMatches("quantile", SinkCase(identity,
      QuantileSketchSink.partialsBatch(_, _, _, "value", 0.0, 500.0, 50),
      QuantileSketchSink.sink(_, _, _),
      QuantileSketchSink.mergedQuantiles(spark, _)))
  }

  test("crash-resume: MvSink") {
    val (keys, adds) = (Seq("event_type"), Seq("value"))
    resumeMatches("mv", SinkCase(identity,
      (b, id, p) => MvSink.mvBatch(b, p, keys, adds, id),
      MvSink.mvSink(_, _, _, keys, adds),
      MvSink.readView(spark, _, keys, adds)))
  }

  test("crash-resume: AccumulatingSink") {
    resumeMatches("accumulating", SinkCase(identity,
      (b, _, p) => AccumulatingSink.applyBatch(b, p,
        Seq("signup", "click", "purchase")),
      AccumulatingSink.sink(_, _, _),
      AccumulatingSink.snapshot(spark, _)))
  }

  test("crash-resume: upsertSink with partition columns") {
    resumeMatches("upsert_dt", SinkCase(
      df => EventStream.classify(df).withColumn("dt", to_date(col("ts"))),
      (b, _, p) => EventStream.upsertBatch(b, p, Seq("dt"), Seq("event_id")),
      EventStream.upsertSink(_, _, _, Seq("dt")),
      spark.read.parquet(_)))
  }

  test("crash-resume: upsertSink without partition columns") {
    resumeMatches("upsert_flat", SinkCase(EventStream.classify,
      (b, _, p) => EventStream.upsertBatch(b, p, Nil, Seq("event_id")),
      EventStream.upsertSink(_, _, _, Nil),
      spark.read.parquet(_)))
  }
}
