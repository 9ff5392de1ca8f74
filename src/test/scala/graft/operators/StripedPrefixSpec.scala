package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.functions.TextFunctions.{qualityScore, wsTokenCount}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Stats.stripedPrefix]] against the plain single-partition window it
  * replaces: `sum(c).over(partitionBy(keys).orderBy(order)
  * .rowsBetween(unboundedPreceding, -1))`, 0 for the first row. The
  * stripe count must never change a sum, so every frame runs at several
  * counts. The stripe-count checks of mannWhitneyU, ksTest, spearman,
  * cramerVonMises and tokenBudgetSelect live here, on those tests'
  * input frames, since the operators no longer take a stripe count. */
class StripedPrefixSpec extends SparkSpec {

  import spark.implicits._

  private val counts = Seq(1, 3, 5, 64, 256)

  /** Asserts the striped sums equal the window reference at each
    * stripe count, on value-range stripes of `v` over `range` (the
    * frame's own min and max of `v` when not given). */
  private def check(df: DataFrame, v: Column, order: Seq[Column],
                    sums: Seq[String], keys: Seq[String] = Nil,
                    stripes: Seq[Int] = counts,
                    range: Option[(Column, Column)] = None): Unit = {
    val (lo, hi) = range.getOrElse {
      val b = df.agg(min(v).cast("double"), max(v).cast("double")).head
      (lit(b.get(0)), lit(b.get(1)))
    }
    checkMap(df, s => Stats.valueStripe(v, lo, hi, s), order, sums, keys,
      stripes)
  }

  /** [[check]] for any stripe map, built from the stripe count. */
  private def checkMap(df: DataFrame, stripe: Int => Column,
                       order: Seq[Column], sums: Seq[String],
                       keys: Seq[String], stripes: Seq[Int]): Unit = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val expect = df.select(col("*") +: sums.map(c =>
        coalesce(sum(c).over(w), lit(0L)).as(s"below_$c")): _*)
      .collect().map(_.toSeq).toSet
    for (s <- stripes) {
      val got = Stats.stripedPrefix(df, stripe(s), order, sums, keys)
        .collect().map(_.toSeq).toSet
      assert(got.size == df.count(), s"stripes=$s lost or added rows")
      assert(got == expect, s"stripes=$s")
    }
  }

  test("seeded random frames with ties, negatives and nulls") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 400).map { i =>
        val v: java.lang.Long =
          if (rnd.nextInt(20) == 0) null else (rnd.nextInt(41) - 20).toLong
        (i.toLong, v, (rnd.nextInt(9) - 4).toLong, rnd.nextInt(5).toLong)
      }
      val df = rows.toDF("id", "v", "a", "b")
      check(df, col("v"), Seq(col("v"), col("id")), Seq("a", "b"))
    }
  }

  test("double values and decimal sums") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 300).map(i =>
        (i.toLong, rnd.nextInt(50) / 7.0 - 3.0, BigDecimal(rnd.nextInt(1000))))
      .toDF("id", "v", "d")
      .withColumn("d", col("d").cast("decimal(20,0)"))
    check(df, col("v"), Seq(col("v"), col("id")), Seq("d"))
  }

  test("a partition key, null keys included, keeps groups apart") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 500).map { i =>
        val g = rnd.nextInt(4) match {
          case 0 => null
          case k => s"g$k"
        }
        (i.toLong, g, rnd.nextInt(30).toLong, rnd.nextInt(7).toLong)
      }.toDF("id", "g", "v", "t")
    check(df, col("v"), Seq(col("v"), col("id")), Seq("t"), keys = Seq("g"))
  }

  test("constant column (hi = lo), one row and an empty frame") {
    val const = (1 to 50).map(i => (i.toLong, 7L, i.toLong)).toDF("id", "v", "a")
    check(const, col("v"), Seq(col("v"), col("id")), Seq("a"))
    val one = Seq((1L, -3L, 5L)).toDF("id", "v", "a")
    check(one, col("v"), Seq(col("v"), col("id")), Seq("a"))
    val empty = Seq.empty[(Long, Long, Long)].toDF("id", "v", "a")
    check(empty, col("v"), Seq(col("v"), col("id")), Seq("a"))
  }

  /** The distinct-value (v, ca, cb, t) frame of the two-sample rank
    * family. */
  private def twoSample(rows: Seq[(String, Double)], ga: String,
                        gb: String): DataFrame =
    rows.toDF("g", "v").groupBy("v")
      .agg(sum(when(col("g") === ga, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === gb, 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))

  test("mannWhitneyU's frame: stripe-count invariant") {
    val as = Seq.tabulate(300)(i => ("A", (i * 7919 % 997) / 9.0))
    val bs = Seq.tabulate(250)(i => ("B", (i * 104729 % 1201) / 11.0))
    check(twoSample(as ++ bs, "A", "B"), col("v"), Seq(col("v")), Seq("t"),
      stripes = Seq(1, 5, 256))
  }

  test("ksTest's frame: stripe-count invariant") {
    val as = Seq.tabulate(400)(i => ("A", (i * 7919 % 1000) / 10.0))
    val bs = Seq.tabulate(300)(i => ("B", (i * 104729 % 1300) / 11.0))
    check(twoSample(as ++ bs, "A", "B"), col("v"), Seq(col("v")),
      Seq("ca", "cb"), stripes = Seq(1, 3, 256))
  }

  test("spearman's tied frame: midrank sums stripe-count invariant") {
    val tied = Seq.tabulate(300)(i =>
      ((i % 7).toDouble, (i * 31 % 13).toDouble)).toDF("x", "y")
    for (c <- Seq("x", "y")) {
      val pts = tied.groupBy(col(c).as("v")).agg(count(lit(1)).as("t"))
      check(pts, col("v"), Seq(col("v")), Seq("t"), stripes = Seq(1, 4, 256))
    }
  }

  test("cramerVonMises' tie-heavy frame: stripe-count invariant") {
    val messy = (1 to 120).map(i => ("a", (i % 7).toDouble)) ++
      (1 to 80).map(i => ("b", (i % 5).toDouble + 0.5))
    check(twoSample(messy, "a", "b"), col("v"), Seq(col("v")),
      Seq("t", "ca"), stripes = Seq(1, 256))
  }

  test("tokenBudgetSelect's frame: quality-bin count invariant") {
    def doc(id: Long, words: Int) =
      (id, Seq.fill(words)("the").mkString(" "))
    val base = Seq(doc(1, 90), doc(2, 60), doc(3, 30), doc(4, 10))
      .toDF("doc_id", "text")
      .select(col("doc_id"), round(qualityScore(col("text")), 6).as("q"),
        wsTokenCount(col("text")).cast("long").as("n_tokens"))
    check(base, lit(1.0) - col("q"), Seq(col("q").desc, col("doc_id")),
      Seq("n_tokens"), stripes = Seq(1, TextAnalysis.BudgetStripes),
      range = Some((lit(0.0), lit(1.0))))
  }

  test("packSequences' frame: doc-id range size invariant, per split") {
    val base = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), TextFunctions.hashSplitOf(col("text")).as("split"),
        wsTokenCount(col("text")).cast("long").as("n_tokens"))
    // 7-doc ranges force many stripes per split; 2^20 is one stripe
    checkMap(base, ids => expr(s"doc_id div ${ids}L"), Seq(col("doc_id")),
      Seq("n_tokens"), Seq("split"), Seq(7, 1 << 20))
  }
}
