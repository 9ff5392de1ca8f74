package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LoopsSpec extends SparkSpec {

  import spark.implicits._

  private def observedMatchesCount(df: DataFrame): Long = {
    val (cp, n) = Loops.checkpointCounted(df)
    assert(n == cp.count(), s"observed $n vs count ${cp.count()}")
    assert(n == df.count())
    n
  }

  test("checkpointCounted: the observed count equals count() on an " +
      "empty frame, a multi-partition frame and a plan ending in a shuffle") {
    assert(observedMatchesCount(spark.range(0).toDF("id")) == 0L)
    assert(observedMatchesCount(Seq.empty[Long].toDF("id")) == 0L)
    assert(observedMatchesCount(spark.range(10).toDF("id")
      .filter(col("id") > 100)) == 0L)
    val multi = spark.range(0, 1000, 1, 7).toDF("id")
    assert(multi.rdd.getNumPartitions == 7)
    assert(observedMatchesCount(multi) == 1000L)
    // the plan root is the final aggregate after an exchange
    assert(observedMatchesCount(spark.range(0, 1000, 1, 7)
      .groupBy((col("id") % 13).as("k")).agg(count(lit(1)).as("c"))) == 13L)
  }

  test("frontier: stops on an empty level and returns only non-empty ones") {
    var calls = 0
    // chain 1 -> 2 -> 3: level 3 is empty, so expansion runs three times
    // even though maxDepth allows ten
    val next = Map(1L -> 2L, 2L -> 3L)
    val (levels, sizes) = Loops.frontier(Seq(1L).toDF("node"),
        Seq("node"), maxDepth = 10) { (f, _) =>
      calls += 1
      val ids = f.as[Long].collect().flatMap(next.get).toSeq
      ids.toDF("node")
    }
    assert(calls == 3)
    assert(sizes == IndexedSeq(1L, 1L, 1L))
    assert(levels.map(_.as[Long].collect().toSeq) ==
      IndexedSeq(Seq(1L), Seq(2L), Seq(3L)))
    // an empty start runs no expansion at all
    val (none, noSizes) = Loops.frontier(Seq.empty[Long].toDF("node"),
        Seq("node"), maxDepth = 10) { (f, _) => calls += 1; f }
    assert(calls == 3 && noSizes == IndexedSeq(0L) && none.size == 1)
  }
}
