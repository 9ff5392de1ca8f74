package graft.streaming

import graft.SparkSpec
import graft.operators.Stats
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Feat(x1: Double, x2: Double, x3: Double, y: Double)

class OnlineSgdSpec extends SparkSpec {

  // three deterministic micro-batches of a separable concept
  // (y = [x1 + x2 > 0]) with a bit of feature noise in x3
  private def mk(seed: Int, n: Int): Seq[Feat] =
    (1 to n).map { i =>
      val a = math.sin(seed * 1000 + i * 7.3)
      val b = math.cos(seed * 2000 + i * 3.1)
      Feat(a, b, math.sin(i * 0.37), if (a + b > 0) 1.0 else 0.0)
    }

  test("online SGD sink: stream state equals the offline sequential fold; replay converges") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = s"target/graft_io/sgd_${System.nanoTime()}"
    val batches = Seq(mk(1, 200), mk(2, 200), mk(3, 200))

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[Feat](Encoders.product[Feat], sq)
      val q = OnlineSgdSink.sink(input.toDF(), s"$dir/state", s"$dir/$ckpt")
        .outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    val state = spark.read.parquet(s"$dir/state")
    assert(state.count() == 3, "one weight row per micro-batch")
    val sRow = state.orderBy(col("__batch").desc).limit(1).collect().head
    val streamed = sRow.getSeq[Double](sRow.fieldIndex("w")).toList

    // offline: the same three frames folded through the same step
    val offline = batches.foldLeft(Array.fill(4)(0.0)) { (w, b) =>
      Stats.logisticStep(b.toDF(), w, lr = 5.0)
    }.toList
    // partition-order double summation drifts at the last ulp between
    // the streamed frame and the local fold; the fold itself is what's
    // under test, so compare within 1e-9 relative
    assert(streamed.size == offline.size && streamed.zip(offline).forall {
      case (a, b) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    }, s"stream fold $streamed != offline fold $offline")

    // the trained model actually separates the concept
    val acc = batches.flatten.count(f =>
      (offline(0) + offline(1) * f.x1 + offline(2) * f.x2 +
        offline(3) * f.x3 >= 0) == (f.y == 1.0)).toDouble / 600
    assert(acc > 0.8, s"3 online steps must beat chance clearly: $acc")

    // fresh-checkpoint replay: batch ids restart, and each batch reads
    // the state strictly below its id, so the fold reproduces exactly
    runOnce("ckpt_b")
    val rRow = spark.read.parquet(s"$dir/state")
      .orderBy(col("__batch").desc).limit(1).collect().head
    val replayed = rRow.getSeq[Double](rRow.fieldIndex("w")).toList
    assert(replayed == streamed, "replay must converge to the same model")
    assert(spark.read.parquet(s"$dir/state").count() == 3,
      "replay overwrites its partitions, never appends")
  }

  test("forgetSink: streamed erasure requests scrub the lake and log an audit trail") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"target/graft_io/sforget_${System.nanoTime()}"
    Seq((1L, "d1", "a"), (2L, "d1", "b"), (2L, "d2", "c"),
      (3L, "d2", "d"), (4L, "d3", "e"))
      .toDF("user_id", "day", "payload")
      .write.partitionBy("day").parquet(s"$dir/lake")
    val input = MemoryStream[Long](org.apache.spark.sql.Encoders.scalaLong, sq)
    val q = EventStream.forgetSink(
      input.toDF().withColumnRenamed("value", "user_id"),
      s"$dir/lake", s"$dir/audit", s"$dir/ckpt", "user_id", Seq("day"))
      .outputMode("update").start()
    try {
      input.addData(2L); q.processAllAvailable()   // hits d1 + d2
      input.addData(4L); q.processAllAvailable()   // empties d3
      input.addData(99L); q.processAllAvailable()  // no-op request
    } finally q.stop()
    val left = spark.read.parquet(s"$dir/lake")
      .select("user_id", "day").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left == Set((1L, "d1"), (3L, "d2")),
      s"streamed requests must scrub users 2 and 4: $left")
    assert(!new java.io.File(s"$dir/lake/day=d3").exists(),
      "user 4's whole partition must be gone")
    val audit = spark.read.parquet(s"$dir/audit")
      .select("day", "rows_removed").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(audit == Set(("d1", 1L), ("d2", 1L), ("d3", 1L)),
      s"audit log must record each partition's removals: $audit")
  }
}
