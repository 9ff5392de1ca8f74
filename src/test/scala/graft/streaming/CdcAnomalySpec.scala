package graft.streaming

import graft.SparkSpec
import graft.operators.{Dwh, Resample}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class CdcAnomalySpec extends SparkSpec {

  case class Ch(k: Long, op: String, ns: String, t: java.sql.Timestamp, ord: Long)
  private def ch(k: Long, op: String, ns: String, sec: Int, ord: Long) =
    Ch(k, op, ns, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), ord)

  test("streaming CDC apply equals one batch apply of the full changelog; replay converges") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[Ch]
    val dir = s"target/graft_io/cdc_sink_${System.nanoTime()}"
    // batch 1 bootstraps (pure inserts + an immediate update);
    // batch 2 updates, deletes, and inserts across the batch boundary
    val b1 = Seq(ch(1, "I", "a", 1, 1), ch(2, "I", "b", 2, 2),
      ch(1, "U", "a2", 3, 3))
    val b2 = Seq(ch(2, "D", "x", 4, 4), ch(1, "U", "a3", 5, 5),
      ch(3, "I", "c", 6, 6))

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[Ch](enc, sq)
      val q = CdcSink.sink(input.toDF(), s"$dir/lake", s"$dir/$ckpt",
        "k", "op", "ns", "t", "ord").outputMode("update").start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    val lake = spark.read.parquet(s"$dir/lake")
    val empty = spark.createDataFrame(Seq.empty[(Long, String)])
      .toDF("k", "state")
    val batch = Dwh.cdcApply(empty,
      spark.createDataFrame(b1 ++ b2).toDF("k", "op", "ns", "t", "ord"),
      "k", "state", "op", "ns", "t", "ord")
    assert(lake.exceptAll(batch).isEmpty && batch.exceptAll(lake).isEmpty,
      "streamed CDC dimension diverges from the one-shot batch apply")
    assert(lake.collect().map(r => r.getAs[Long]("k") ->
      r.getAs[String]("state")).toMap == Map(1L -> "a3", 3L -> "c"))

    // fresh-checkpoint full replay: ordered batches re-apply and converge
    runOnce("ckpt_b")
    val replayed = spark.read.parquet(s"$dir/lake")
    assert(replayed.exceptAll(batch).isEmpty && batch.exceptAll(replayed).isEmpty,
      "replay mutated the CDC dimension")
  }

  test("streaming anomaly detector equals the batch twin with the baseline split across batches") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[AnomalySink.AnomEv]
    val all = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
      .as[AnomalySink.AnomEv](enc)
      .collect().sortBy(_.ts.getTime)

    val input = MemoryStream[AnomalySink.AnomEv](enc, sq)
    val q = AnomalySink.anomalies(input.toDS())
      .writeStream.format("memory").queryName("t_anom")
      .outputMode("update").start()
    try {
      // chronological halves: a user's baseline window accumulated in
      // batch 1 must score batch-2 events
      val (first, second) = all.splitAt(all.length / 2)
      input.addData(first.toIndexedSeq); q.processAllAvailable()
      input.addData(second.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("t_anom").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
          r.getAs[Double]("z")).toMap
      val batch = Resample.tsAnomaly(graft.Tables.events(spark, sf)).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
          r.getAs[Double]("z")).toMap
      assert(streamed.keySet == batch.keySet,
        s"flag sets differ: only-stream=${(streamed.keySet -- batch.keySet).take(5)} " +
          s"only-batch=${(batch.keySet -- streamed.keySet).take(5)}")
      batch.foreach { case (k, z) =>
        assert(math.abs(streamed(k) - z) <= 0.0001, s"$k z ${streamed(k)} != $z")
      }
    } finally q.stop()
  }
}
