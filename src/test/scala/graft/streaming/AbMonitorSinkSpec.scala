package graft.streaming

import graft.SparkSpec
import graft.operators.Stats
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class AbEvent(user_id: Long, event_type: String, value: Double)

class AbMonitorSinkSpec extends SparkSpec {

  import spark.implicits._

  // user 7 converts only in the SECOND batch (cross-batch max merge);
  // user 3 appears twice unconverted (must count once)
  private val batches = Seq(
    (1L to 10L).map(u => AbEvent(u, "purchase",
      if (u % 2 == 0) 99.0 else 10.0)),
    Seq(AbEvent(7L, "purchase", 99.0), AbEvent(3L, "click", 1.0),
      AbEvent(11L, "purchase", 99.0)),
    Seq(AbEvent(3L, "view", 0.0)))

  test("A/B monitor: streamed report equals the batch st_power; replay is a no-op") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/ab_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[AbEvent](Encoders.product[AbEvent], sq)
      val q = AbMonitorSink.sink(input.toDF(), s"$dir/state", s"$dir/$ckpt")
        .outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def rows = AbMonitorSink.report(spark, s"$dir/state").collect()
    val streamed = rows.head

    // the batch twin over the union of all events — one definition of
    // arms, conversion and formula, so the results must be IDENTICAL
    val cold = Stats.powerAnalysis(
      batches.flatten.toDF()
        .withColumn("ts", timestamp_seconds(col("user_id")))).collect().head
    assert(streamed == cold, s"streamed $streamed != cold $cold")
    // cross-batch semantics actually exercised: 11 distinct users,
    // user 7's late conversion counted exactly once
    assert(streamed.getAs[Long]("na") + streamed.getAs[Long]("nb") == 11L)

    // fresh-checkpoint replay: partitions overwritten, report unchanged
    runOnce("ckpt_b")
    assert(rows.head == streamed, "replay must not change the report")
    assert(spark.read.parquet(s"$dir/state")
      .select("__batch").distinct().count() == 3)
  }
}
