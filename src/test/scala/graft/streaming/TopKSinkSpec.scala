package graft.streaming

import graft.SparkSpec
import graft.operators.Stats
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class TkEvent(event_type: String)

class TopKSinkSpec extends SparkSpec {

  import spark.implicits._

  // counts merge ACROSS batches: "view" never leads within one batch
  // but wins overall; "rare" ties "x" at 2 → value tiebreak
  private val batches = Seq(
    Seq.fill(5)(TkEvent("click")) ++ Seq.fill(4)(TkEvent("view")),
    Seq.fill(1)(TkEvent("click")) ++ Seq.fill(5)(TkEvent("view")) ++
      Seq(TkEvent("rare"), TkEvent("x")),
    Seq(TkEvent("rare"), TkEvent("x")))

  test("top-k report equals batch freqTopN on the union; replay is a no-op") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/topk_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[TkEvent](Encoders.product[TkEvent], sq)
      val q = TopKSink.sink(input.toDF(), s"$dir/state", s"$dir/$ckpt",
        "event_type").outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def rows = TopKSink.report(spark, s"$dir/state", "event_type", 3)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n"))).toSeq
    val streamed = rows
    // one definition, two surfaces: identical rows AND order
    val cold = Stats.freqTopN(batches.flatten.toDF(), "event_type", 3)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n"))).toSeq
    assert(streamed == cold, s"streamed $streamed != cold $cold")
    assert(streamed == Seq(("view", 9L), ("click", 6L), ("rare", 2L)),
      "cross-batch merge + value tiebreak on the rare/x tie")

    // fresh-checkpoint replay overwrites partitions, report unchanged
    runOnce("ckpt_b")
    assert(rows == streamed, "replay must not change the report")
    assert(spark.read.parquet(s"$dir/state")
      .select("__batch").distinct().count() == 3)
  }

  test("SpaceSaving cap: planted heavy hitter survives eviction with an exact count; bounds bracket truth") {
    val dir = s"target/graft_io/topkcap_${System.nanoTime()}"
    // 3 batches: "hot" 50× each + 40 UNIQUE noise values 1× each — an
    // unbounded-domain stand-in. capM=8 stores 8 of 41 values/batch.
    val batches3 = (0 until 3).map(b =>
      Seq.fill(50)(TkEvent("hot")) ++
        (0 until 40).map(i => TkEvent(f"noise_${b}_$i%02d")))
    batches3.zipWithIndex.foreach { case (b, i) =>
      TopKSink.incrementsBatch(b.toDF(), i, s"$dir/state", "event_type",
        capM = 8)
    }
    val st = spark.read.parquet(s"$dir/state")
    val perBatch = st.groupBy("__batch").count().collect()
      .map(_.getAs[Long]("count"))
    assert(perBatch.forall(_ == 8L), s"store bounded at capM: ${perBatch.toSeq}")
    // the heavy hitter is in every batch's top-M → merged count EXACT
    val top = TopKSink.report(spark, s"$dir/state", "event_type", 2)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n")))
    assert(top.head == (("hot", 150L)),
      s"heavy hitter must survive eviction with its exact count: ${top.toSeq}")
    // bounds: hot present everywhere → zero slack; a surviving noise
    // value could have lost at most the OTHER batches' cutoffs (1 each)
    val b = TopKSink.reportBounds(spark, s"$dir/state", "event_type", 8)
      .collect().map(r => (r.getString(0),
        r.getAs[Long]("n_lo"), r.getAs[Long]("n_hi"))).toSeq
    assert(b.head == (("hot", 150L, 150L)))
    val noise = b.find(_._1.startsWith("noise_")).get
    assert(noise._2 == 1L && noise._3 == 3L,
      s"evicted-elsewhere slack = other batches' cut (1+1): $noise")
  }
}
