package graft.operators

import graft.SparkSpec

class ClusterSpec extends SparkSpec {

  import spark.implicits._

  test("dupClusters labels chains and triangles with the component minimum") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("d1", "d2")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dupClusters over LSH pairs: endpoints of every pair share a label") {
    import org.apache.spark.sql.functions.col
    val pairs = SketchDedup.minhashLshPairs(graft.Tables.documents(spark, sf))
      .select(col("d1"), col("d2"))
    val labels = Dedup.dupClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (id, l) => assert(l <= id, "label must be component min") }
  }

  test("dupClusters shuffled-label mode (over the broadcast limit) matches broadcast mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("d1", "d2")
    // a session broadcast limit of 0 forces every per-round join onto
    // the shuffled path — the auto-degrade route for huge label frames —
    // and driverEdgeLimit = 0 keeps the graph OFF the union-find fast
    // path so the distributed rounds are what's under test
    spark.conf.set(graft.GraftConf.BroadcastNodeLimitKey, "0")
    val got =
      try Dedup.dupClusters(pairs, driverEdgeLimit = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset(graft.GraftConf.BroadcastNodeLimitKey)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dupClusters converges on a long chain within maxIter (distributed path)") {
    val n = 40
    val chain = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    val got = Dedup.dupClusters(chain, maxIter = 50, driverEdgeLimit = 0L)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 1L))
  }

  test("dupClusters: a distributed run that has not settled at maxIter throws") {
    val chain = (1 until 40).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    val msg = intercept[IllegalStateException](
      Dedup.dupClusters(chain, maxIter = 1, driverEdgeLimit = 0L)).getMessage
    assert(msg.contains("dupClusters") && msg.contains("1 rounds"), msg)
  }

  test("driver union-find fast path labels exactly like the distributed rounds") {
    import org.apache.spark.sql.functions.col
    val pairs = SketchDedup.minhashLshPairs(graft.Tables.documents(spark, sf))
      .select(col("d1"), col("d2"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val fast = m(Dedup.dupClusters(pairs))
    val dist = m(Dedup.dupClusters(pairs, driverEdgeLimit = 0L))
    assert(fast.nonEmpty && fast == dist)
    // a self-pair is a singleton cluster on both paths; a repeated pair
    // changes nothing
    val selfPairs = Seq((1L, 1L), (2L, 3L), (2L, 3L)).toDF("d1", "d2")
    val want = Map(1L -> 1L, 2L -> 2L, 3L -> 2L)
    assert(m(Dedup.dupClusters(selfPairs)) == want)
    assert(m(Dedup.dupClusters(selfPairs, driverEdgeLimit = 0L)) == want)
  }
}
