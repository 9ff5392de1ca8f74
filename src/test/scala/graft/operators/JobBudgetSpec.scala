package graft.operators

import graft.SparkSpec
import org.apache.spark.GraftListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** Spark jobs launched by the loop operators, counted by a listener
  * attached around the call. */
class JobBudgetSpec extends SparkSpec {

  import spark.implicits._

  /** Jobs `body` launches. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftListenerFlush.flush(sc)
    sc.addSparkListener(listener)
    try { body; GraftListenerFlush.flush(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("bfs: each checkpointed level is counted by its own job") {
    // GraphSpec's path 1-2-…-7 from seed 1 at maxDepth 4: five levels
    // (the seed and four rounds). Counting each checkpointed level with
    // a separate count() ran 31 jobs here, two of them per level.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L)).flatMap(p => Seq(p, p.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    var out = Map.empty[Int, Long]
    val n = jobs {
      out = Graph.bfs(edges, seeds, maxDepth = 4).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    assert(out == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 1L))
    // and the edge list is checkpointed without a shuffle on src that
    // its read-back could not use (one job less)
    assert(n <= 31 - 2 * 5 - 1, s"bfs ran $n jobs")
  }

  test("dupClusters driver path: one counted checkpoint of the pair " +
      "list, then one collect") {
    // a pair frame ending in an aggregation, as the pair generators'
    // do; counting the two-direction union ran it once per branch
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (2L, 3L))
      .toDF("d1", "d2").distinct()
    var out = Map.empty[Long, Long]
    val n = jobs {
      out = Dedup.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // five jobs when the union was cached, counted and collected again
    assert(n <= 3, s"dupClusters ran $n jobs")
  }

  test("ipf: no job before the action and at most three during collect") {
    val events = (Seq.fill(30)(("a", 0)) ++ Seq.fill(10)(("a", 1)) ++
      Seq.fill(10)(("b", 0)) ++ Seq.fill(10)(("b", 1)))
      .toDF("event_type", "day")
      .select(col("event_type"),
        date_add(lit("1970-01-01").cast("date"), col("day"))
          .cast("timestamp").as("ts"))
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobs { df = Stats.ipf(events) } == 0)
    var rows = 0
    val n = jobs { rows = df.collect().length }
    assert(rows == 4)
    assert(n <= 3, s"ipf collect ran $n jobs")
  }
}
