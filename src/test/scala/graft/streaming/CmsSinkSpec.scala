package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class CmsEvent(event_type: String)

class CmsSinkSpec extends SparkSpec {

  import spark.implicits._

  private val batches = Seq(
    Seq.fill(40)(CmsEvent("click")) ++ Seq.fill(9)(CmsEvent("view")),
    Seq.fill(25)(CmsEvent("view")) ++ Seq.fill(3)(CmsEvent("rare")),
    Seq.fill(2)(CmsEvent("rare")) ++ Seq.fill(10)(CmsEvent("click")))

  test("streamed CMS store answers merged frequency probes; replay is a no-op") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/cms_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[CmsEvent](Encoders.product[CmsEvent], sq)
      val q = CmsSink.sink(input.toDF(), s"$dir/state", s"$dir/$ckpt",
        "event_type").outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def probe = CmsSink.estimates(spark, s"$dir/state",
      Seq("click", "view", "rare", "__absent__"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("estimate"))
      .toMap
    val est = probe
    // 4 keys in 2048 cells: the one-sided estimate is exact here, and
    // it must equal the whole-history counts — the merged store sketch
    // IS the union sketch (cell-wise mergeability)
    assert(est("click") == 50L && est("view") == 34L && est("rare") == 5L,
      s"$est")
    assert(est("__absent__") >= 0L && est("__absent__") <= 2L,
      "an absent key reads only collision mass")
    // one sketch ROW per batch — constant-size state, not value-bounded
    assert(spark.read.parquet(s"$dir/state").count() == 3)

    // fresh-checkpoint replay overwrites partitions, probes unchanged
    runOnce("ckpt_b")
    assert(probe == est, "replay must not change the estimates")
  }
}
