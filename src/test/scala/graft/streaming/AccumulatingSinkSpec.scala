package graft.streaming

import graft.SparkSpec
import graft.operators.Dwh
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class LifeEvent(user_id: Long, event_type: String, s: Long)

class AccumulatingSinkSpec extends SparkSpec {

  import spark.implicits._

  private val day = 86400L
  private val batches = Seq(
    Seq(LifeEvent(1, "signup", 0), LifeEvent(2, "signup", day)),
    Seq(LifeEvent(1, "click", 2 * day), LifeEvent(2, "click", 3 * day),
      LifeEvent(3, "signup", 4 * day)),
    // a LATE batch carrying an EARLIER click for user 2: must backfill
    Seq(LifeEvent(1, "purchase", 5 * day), LifeEvent(2, "click", 2 * day)))

  private def asEvents(rows: Seq[LifeEvent]) = rows.toDF()
    .select(col("user_id"), col("event_type"),
      timestamp_seconds(col("s")).as("ts"))

  test("accumulating sink: streamed snapshot equals batch rebuild; replay converges") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/acc_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[LifeEvent](Encoders.product[LifeEvent], sq)
      val q = AccumulatingSink.sink(
        input.toDF().select(col("user_id"), col("event_type"),
          timestamp_seconds(col("s")).as("ts")),
        s"$dir/state", s"$dir/$ckpt").outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def snap = AccumulatingSink.snapshot(spark, s"$dir/state").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (Option(r.get(r.fieldIndex("signup_us"))),
          Option(r.get(r.fieldIndex("click_us"))),
          Option(r.get(r.fieldIndex("purchase_us"))))).toMap
    val streamed = snap
    val rebuilt = Dwh.accumulatingSnapshot(asEvents(batches.flatten))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (Option(r.get(r.fieldIndex("signup_us"))),
          Option(r.get(r.fieldIndex("click_us"))),
          Option(r.get(r.fieldIndex("purchase_us"))))).toMap
    assert(streamed == rebuilt,
      s"stream fold must equal the rebuild: $streamed vs $rebuilt")
    // the late-but-earlier click backfilled user 2 to day 2
    assert(streamed(2L)._2.contains(2 * day * 1000000L))

    // fresh-checkpoint replay of every batch: least-merge converges
    runOnce("ckpt_b")
    assert(snap == streamed, "replay must not move any milestone")
  }
}
