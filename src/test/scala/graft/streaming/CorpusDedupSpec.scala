package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class CorpusDedupSpec extends SparkSpec {

  case class Doc(doc_id: Long, text: String, n_chars: Int)
  private def doc(id: Long, text: String) = Doc(id, text, text.length)

  test("stream incremental dedup: historical fingerprints drop cross-batch dups; replay adds nothing") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[Doc]
    val dir = s"target/graft_io/corpus_dedup_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[Doc](enc, sq)
      val q = CorpusDedup.sink(input.toDF(), s"$dir/store", s"$dir/out",
        s"$dir/$ckpt").outputMode("append").start()
      try {
        input.addData(
          doc(1, "alpha beta gamma"),
          doc(2, "delta epsilon zeta"))
        q.processAllAvailable()
        // batch 2: doc 3 repeats doc 1's text (seen in a PREVIOUS batch —
        // beyond any watermark-horizon dedup), doc 4 is novel, docs 5/6
        // are intra-batch twins
        input.addData(
          doc(3, "alpha beta gamma"),
          doc(4, "eta theta iota"),
          doc(5, "kappa lambda mu"),
          doc(6, "kappa lambda mu"))
        q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    val out = spark.read.parquet(s"$dir/out")
    val ids = out.collect().map(_.getAs[Long]("doc_id")).sorted
    assert(ids.sameElements(Array(1L, 2L, 4L, 5L)),
      s"admitted ${ids.mkString(",")}")

    // full replay on a fresh checkpoint (simulated checkpoint loss): every
    // fingerprint is already in the store, so nothing is re-admitted
    runOnce("ckpt_b")
    val replayIds = spark.read.parquet(s"$dir/out")
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(replayIds.sameElements(Array(1L, 2L, 4L, 5L)),
      s"replay changed the lake: ${replayIds.mkString(",")}")
  }

  test("curateSink gates quality on the stream before the dedup admit") {
    implicit val sq = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[Doc]
    val dir = s"target/graft_io/curate_sink_${System.nanoTime()}"
    val input = MemoryStream[Doc](enc, sq)
    // prose clears the default gates; "spam spam ..." fails dup-word;
    // digit noise fails the quality floor
    val good = "the quick brown fox jumps over a lazy dog in the garden " +
      "while the birds sing and the cat naps near a warm window today"
    val q = CorpusDedup.curateSink(input.toDF(), s"$dir/store", s"$dir/out",
      s"$dir/ckpt").outputMode("append").start()
    try {
      input.addData(
        doc(1, good),
        doc(2, "spam spam spam spam spam spam spam spam spam spam"),
        doc(3, "000 111 222 333 444 555 666 777 888 999 000 111 222"),
        doc(4, good)) // exact dup of 1 within the batch
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.read.parquet(s"$dir/out")
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(ids.sameElements(Array(1L)), s"admitted ${ids.mkString(",")}")
  }
}
