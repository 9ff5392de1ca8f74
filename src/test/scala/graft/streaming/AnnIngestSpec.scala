package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.SimilaritySearch
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class AnnIngestSpec extends SparkSpec {

  case class Vec(vec_id: Long, embedding: Seq[Float])

  test("streamed vectors land in their cells, probes see them, replay adds nothing") {
    val emb = Tables.embeddings(spark, sf)
    val dir = s"target/graft_io/ann_ingest_${System.nanoTime()}"
    val lake = s"$dir/lake"

    // codebook trained on the initial corpus half; the other half arrives
    // as a stream against the FROZEN codebook
    val initial = emb.filter(col("vec_id") % 2 === 0)
    val arriving = emb.filter(col("vec_id") % 2 =!= 0)
    val codebook = SimilaritySearch.buildIvfIndex(initial, 8, lake)

    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[Vec]
    val rows = arriving.select("vec_id", "embedding").collect()
      .map(r => Vec(r.getLong(0), r.getSeq[Float](1)))

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[Vec](enc, sq)
      val q = AnnIngest.sink(input.toDF(), codebook, lake, s"$dir/$ckpt")
        .outputMode("append").start()
      try {
        input.addData(rows.take(rows.length / 2): _*)
        q.processAllAvailable()
        input.addData(rows.drop(rows.length / 2): _*)
        q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    val lakeDf = spark.read.parquet(lake)
    assert(lakeDf.count() == emb.count(), "every vector admitted exactly once")

    // a probe against the ingested lake equals ivfTopK over the full
    // corpus with the same codebook
    val probed = SimilaritySearch
      .ivfProbe(spark, lake, emb, codebook, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val direct = SimilaritySearch.ivfTopK(emb, 0L, 10, codebook)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.sameElements(direct),
      s"probe ${probed.mkString(",")} != direct ${direct.mkString(",")}")

    // checkpoint-loss replay: every vec_id already in the lake → no dups
    runOnce("ckpt_b")
    assert(spark.read.parquet(lake).count() == emb.count(),
      "replay must not duplicate vectors")
  }
}
