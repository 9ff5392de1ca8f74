package graft.streaming

import graft.SparkSpec
import graft.operators.Quality
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class FpOrder(o_orderkey: Long, o_custkey: Long,
                   o_orderstatus: String, o_totalprice: Double,
                   o_orderdate: java.sql.Date, o_orderpriority: String)

class FingerprintSinkSpec extends SparkSpec {

  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  private val batches = Seq(
    Seq(FpOrder(1, 10, "O", 123.45, d("1996-01-02"), "1-URGENT"),
      FpOrder(2, 20, "F", 67.8, d("1997-03-04"), "3-MEDIUM")),
    Seq.empty[FpOrder], // an empty micro-batch must not poison the sum
    Seq(FpOrder(3, 30, "P", 999.99, d("1998-05-06"), "5-LOW")))

  test("streamed fingerprint equals the batch dq_fingerprint on the " +
      "union; empty batches are inert; replay is a no-op") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/fp_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[FpOrder](Encoders.product[FpOrder], sq)
      val q = FingerprintSink.sink(input.toDF(), s"$dir/state",
        s"$dir/$ckpt").outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def streamed = FingerprintSink.report(spark, s"$dir/state")
      .collect().head
    val st = streamed
    // the one-definition lock: streamed ≡ batch on the union
    val batch = Quality.tableFingerprint(
      batches.flatten.toDF()).collect().head
    assert(st.getAs[Long]("n_rows") == 3L, s"$st")
    assert(st.getAs[Long]("fingerprint") ==
      batch.getAs[Long]("fingerprint"), s"$st vs $batch")
    // fresh-checkpoint replay overwrites its own partitions: no drift
    runOnce("ckpt_b")
    val again = streamed
    assert(again.getAs[Long]("fingerprint") ==
      st.getAs[Long]("fingerprint") &&
      again.getAs[Long]("n_rows") == 3L, s"$again")
  }
}
