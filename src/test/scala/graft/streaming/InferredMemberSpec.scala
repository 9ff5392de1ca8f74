package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class InferredMemberSpec extends SparkSpec {

  case class Fact(k: Long, amount: Double)
  case class Dim(k: Long, state: String, t: java.sql.Timestamp, ord: Long)
  private def dim(k: Long, s: String, sec: Int, ord: Long) =
    Dim(k, s, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), ord)

  test("facts admit placeholders, late dims heal them type-1, replay is a no-op") {
    implicit val sq = spark.sqlContext
    val fenc = Encoders.product[Fact]
    val denc = Encoders.product[Dim]
    val dir = s"target/graft_io/inferred_${System.nanoTime()}"
    val lake = s"$dir/dim"

    def readLake() = spark.read.parquet(lake).collect()
      .map(r => r.getAs[Long]("dim_key") ->
        ((r.getAs[String]("state"), r.getAs[Boolean]("inferred")))).toMap

    // dim load delivers key 1 first; facts then reference 1, 2, 3
    val dims = MemoryStream[Dim](denc, sq)
    val dq = InferredMemberSink.dimsSink(dims.toDF(), lake, s"$dir/cd",
      "k", "state", "t", "ord").outputMode("update").start()
    val facts = MemoryStream[Fact](fenc, sq)
    val fq = InferredMemberSink.factsSink(facts.toDF(), lake, s"$dir/cf",
      "k").outputMode("update").start()
    try {
      dims.addData(dim(1, "GOLD", 1, 1)); dq.processAllAvailable()
      facts.addData(Fact(1, 10.0), Fact(2, 20.0), Fact(3, 30.0))
      fq.processAllAvailable()
      assert(readLake() == Map(
        1L -> (("GOLD", false)), 2L -> ((null, true)), 3L -> ((null, true))),
        s"facts must never block: ${readLake()}")

      // the late dim batch heals key 2 (two versions — latest wins) and
      // inserts key 4; key 3 stays a placeholder
      dims.addData(dim(2, "OLD", 2, 2), dim(2, "SILVER", 3, 3),
        dim(4, "BRONZE", 4, 4))
      dq.processAllAvailable()
      val healed = readLake()
      assert(healed == Map(
        1L -> (("GOLD", false)), 2L -> (("SILVER", false)),
        3L -> ((null, true)), 4L -> (("BRONZE", false))), s"$healed")

      // facts re-referencing a healed key must not resurrect a placeholder
      facts.addData(Fact(2, 5.0)); fq.processAllAvailable()
      assert(readLake() == healed, "healed member resurrected")
    } finally { dq.stop(); fq.stop() }

    // fresh-checkpoint full replay of both streams: anti-join admission
    // and latest-per-key overwrite make every batch a no-op
    val before = readLake()
    val dims2 = MemoryStream[Dim](denc, sq)
    val dq2 = InferredMemberSink.dimsSink(dims2.toDF(), lake, s"$dir/cd2",
      "k", "state", "t", "ord").outputMode("update").start()
    val facts2 = MemoryStream[Fact](fenc, sq)
    val fq2 = InferredMemberSink.factsSink(facts2.toDF(), lake,
      s"$dir/cf2", "k").outputMode("update").start()
    try {
      facts2.addData(Fact(1, 10.0), Fact(2, 20.0), Fact(3, 30.0))
      fq2.processAllAvailable()
      dims2.addData(dim(1, "GOLD", 1, 1), dim(2, "OLD", 2, 2),
        dim(2, "SILVER", 3, 3), dim(4, "BRONZE", 4, 4))
      dq2.processAllAvailable()
    } finally { dq2.stop(); fq2.stop() }
    assert(readLake() == before, "replay mutated the dim lake")
  }
}
