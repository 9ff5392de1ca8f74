package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class BloomEvent(user: String)

class BloomSinkSpec extends SparkSpec {

  import spark.implicits._

  private val batches = Seq(
    Seq("alice", "bob", "alice"),
    Seq("carol", "bob"),
    Seq("dave"))

  test("streamed Bloom store: every seen key probes present (no false " +
      "negatives), absent keys read absent, replay is a no-op") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/bloom_${System.nanoTime()}"

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[BloomEvent](
        Encoders.product[BloomEvent], sq)
      val q = BloomSink.sink(input.toDF(), s"$dir/state", s"$dir/$ckpt",
        "user").outputMode("update").start()
      try batches.foreach { b =>
        input.addData(b.map(BloomEvent): _*); q.processAllAvailable()
      } finally q.stop()
    }

    runOnce("ckpt_a")
    def probe = BloomSink.contains(spark, s"$dir/state",
      Seq("alice", "bob", "carol", "dave", "mallory", "eve"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val m = probe
    // the Bloom guarantee: a streamed key can NEVER probe absent
    assert(Seq("alice", "bob", "carol", "dave").forall(m(_)), s"$m")
    // 4 keys x 4 positions in 8192 bits: these absents read false
    // (deterministic hashing makes this stable, not probabilistic)
    assert(!m("mallory") && !m("eve"), s"$m")
    // one position-set row per batch — state is batch-count rows of
    // <= bits ints, never event- or cardinality-sized
    assert(spark.read.parquet(s"$dir/state").count() == 3)

    // fresh-checkpoint replay overwrites partitions byte-identically
    runOnce("ckpt_b")
    assert(probe == m, "replay must not change membership answers")
  }
}
