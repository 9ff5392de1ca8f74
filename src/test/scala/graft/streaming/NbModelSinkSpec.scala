package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class LabeledDoc(lang: String, text: String)

class NbModelSinkSpec extends SparkSpec {

  import spark.implicits._

  private val batches = Seq(
    Seq(LabeledDoc("aa", "foo bar foo"), LabeledDoc("bb", "uno dos")),
    Seq(LabeledDoc("aa", "bar baz"), LabeledDoc("bb", "dos dos tres")),
    Seq(LabeledDoc("aa", "foo")))

  test("NB model sink: streamed counts equal one cold pass; replay adds nothing") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/nb_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[LabeledDoc](
        Encoders.product[LabeledDoc], sq)
      val q = NbModelSink.sink(input.toDF(), s"$dir/state", s"$dir/$ckpt")
        .outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def modelMap = NbModelSink.model(spark, s"$dir/state").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("tok")) ->
        r.getAs[Long]("c")).toMap
    val streamed = modelMap

    // one cold pass over the union of all batches — counts are
    // mergeable sufficient statistics, so the split cannot matter
    val cold = batches.flatten.toDF()
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("tok")) ->
        r.getAs[Long]("c")).toMap
    assert(streamed == cold, s"streamed $streamed != cold $cold")
    assert(streamed(("aa", "foo")) == 3L && streamed(("bb", "dos")) == 3L)

    // fresh-checkpoint replay of the same batches: each rewrites its
    // own __batch partition with identical bytes — totals unchanged
    runOnce("ckpt_b")
    assert(modelMap == streamed, "replay must not double-count")
    assert(spark.read.parquet(s"$dir/state")
      .select("__batch").distinct().count() == 3,
      "replay overwrites partitions, never appends new ones")
  }
}
