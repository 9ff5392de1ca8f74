package graft.streaming

import graft.SparkSpec
import graft.operators.Stats
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(ts: java.sql.Timestamp, value: Double)

class QuantileSketchSpec extends SparkSpec {

  private def ts(day: Int, h: Int) =
    java.sql.Timestamp.valueOf(f"2024-03-$day%02d $h%02d:00:00")

  // deterministic batches spanning two days and the full value domain
  private def mk(seed: Int, n: Int): Seq[Ev] =
    (1 to n).map { i =>
      val v = ((seed * 7919 + i * 104729) % 50000) / 100.0
      Ev(ts(1 + (i % 2), i % 24), v)
    }

  test("quantile sketch sink: streamed store merges to the batch answer; replay is idempotent") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = s"target/graft_io/qsketch_${System.nanoTime()}"
    val batches = Seq(mk(1, 300), mk(2, 300), mk(3, 300))

    val input = MemoryStream[Ev](Encoders.product[Ev], sq)
    val q = QuantileSketchSink.sink(input.toDF(), s"$dir/store", s"$dir/ckpt")
      .outputMode("update").start()
    try batches.foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.parquet(s"$dir/store")
    assert(store.select("__batch").distinct().count() == 3,
      "one partial partition per micro-batch")
    assert(store.count() <= 3L * 2 * 50, "store must stay sketch-sized")
    assert(store.agg(sum("n")).head().getLong(0) == 900L,
      "partials must account for every event exactly once")

    // the streamed store merges to the SAME estimates as one cold batch
    // pass over the union — the mergeability contract
    val streamed = QuantileSketchSink
      .mergedQuantiles(spark, s"$dir/store").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val direct = Stats.mergeQuantilePartials(
      Stats.quantilePartials(batches.flatten.toDF(), "value", 0.0, 500.0, 50),
      0.0, 500.0, 50, Seq(0.25, 0.5, 0.75, 0.9)).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(streamed == direct, s"stream $streamed != batch $direct")

    // at-least-once replay: re-running batch 1 overwrites its own
    // partition with identical bytes — the store is unchanged
    def snapshot() = spark.read.parquet(s"$dir/store")
      .collect().map(r => (r.getAs[java.sql.Date]("day"),
        r.getAs[Int]("bucket"), r.getAs[Long]("n"),
        r.getAs[Long]("__batch"))).toSet
    val before = snapshot()
    QuantileSketchSink.partialsBatch(batches(1).toDF(), 1L,
      s"$dir/store", "value", 0.0, 500.0, 50)
    assert(snapshot() == before, "replayed batch must not change the store")
  }
}
