package graft.streaming

import graft.SparkSpec
import graft.operators.Windows
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class GaEvent(user_id: Long, epoch_s: Long)

class GrowthSinkSpec extends SparkSpec {

  import spark.implicits._

  // Mondays: 1970-01-05 = 345600s, -12 = 950400, -19 = 1555200.
  // User 2 is active in w1 and w3 (resurrection must survive the
  // batch split); user 1 churns after w2; user 3 arrives in w2.
  private val w1 = 345600L
  private val w2 = 950400L
  private val w3 = 1555200L
  private val batches = Seq(
    Seq(GaEvent(1L, w1), GaEvent(2L, w1 + 3600)),
    Seq(GaEvent(1L, w2), GaEvent(3L, w2 + 60), GaEvent(2L, w1 + 7200)),
    Seq(GaEvent(2L, w3), GaEvent(3L, w3 + 60)))

  test("streamed growth ledger equals the batch ledger; replay is a no-op") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/growth_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[GaEvent](Encoders.product[GaEvent], sq)
      val q = GrowthSink.sink(
        input.toDF().select(col("user_id"),
          timestamp_seconds(col("epoch_s")).as("ts")),
        s"$dir/state", s"$dir/$ckpt")
        .outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def rows = GrowthSink.report(spark, s"$dir/state")
      .orderBy("week").collect().map(_.toSeq).toSeq
    val streamed = rows

    // one definition, two surfaces: identical ledger to the batch twin
    val cold = Windows.growthAccounting(
      batches.flatten.toDF()
        .select(col("user_id"),
          timestamp_seconds(col("epoch_s")).as("ts")))
      .orderBy("week").collect().map(_.toSeq).toSeq
    assert(streamed == cold, s"streamed $streamed != cold $cold")
    assert(streamed.length == 3)
    // w3 row: user 2 resurrects (active w1, absent w2) — the state
    // that requires FULL history, not just the previous batch
    val w3row = streamed.last
    assert(w3row(4) == 1L, s"resurrection must be counted: $w3row")

    // fresh-checkpoint replay overwrites partitions, ledger unchanged
    runOnce("ckpt_b")
    assert(rows == streamed, "replay must not change the ledger")
    assert(spark.read.parquet(s"$dir/state")
      .select("__batch").distinct().count() == 3)
  }
}
