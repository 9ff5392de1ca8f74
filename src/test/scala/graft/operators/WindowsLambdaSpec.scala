package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class WindowsLambdaSpec extends SparkSpec {

  test("sessionize: session numbers start at 1 and are contiguous per user") {
    val s = Windows.sessionize(Tables.events(spark, sf))
    val perUser = s.groupBy("user_id")
      .agg(min("session_no").as("lo"), max("session_no").as("hi"),
        countDistinct("session_no").as("ns"))
      .collect()
    perUser.foreach { r =>
      assert(r.getAs[Long]("lo") == 1L)
      assert(r.getAs[Long]("hi") == r.getAs[Long]("ns")) // contiguous
    }
  }

  test("sessionSummary durations are non-negative and bounded by span") {
    val out = Windows.sessionSummary(Tables.events(spark, sf)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("duration_sec") >= 0.0)
      assert(r.getAs[Long]("n_events") >= 1L)
    }
  }

  test("window chain reuses a single exchange for the user_id partitioning") {
    val plan = Windows.lagChange(Tables.events(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one user_id exchange in:\n$plan")
  }

  test("anomalies: every anomaly exceeds 2 sigma; profile join is broadcast") {
    val df = Lambda.anomalies(Tables.events(spark, sf))
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(df.collect().forall(_.getAs[Long]("n_anomalies") > 0))
  }

  test("alertClassify: a mean on the 4dp half rounds up in every row order") {
    import spark.implicits._
    // seven 352.64 + one 352.65: mean 352.64125, exactly on the half
    val vals = Seq.fill(7)(352.64) :+ 352.65
    val orders = Seq(vals, vals.reverse, vals.sorted.reverse,
      scala.util.Random.shuffle(vals))
    for (o <- orders; parts <- Seq(1, 3, 8)) {
      val ev = o.map(v => ("click", v)).toDF("event_type", "value")
        .repartition(parts)
      val got = Lambda.alertClassify(ev).collect()
      assert(got.length == 1)
      assert(got.head.getAs[String]("alert_level") == "level_2")
      assert(got.head.getAs[Long]("n") == 8L)
      assert(got.head.getAs[Double]("avg_value") == 352.6413,
        s"order $o in $parts partitions gave ${got.head}")
    }
  }

  test("slidingWindowAgg: each event lands in exactly two 6h/3h windows") {
    val total = Lambda.slidingWindowAgg(Tables.events(spark, sf))
      .agg(sum("n")).first().getLong(0)
    assert(total == 2 * Tables.events(spark, sf).count())
  }

  test("deviationalEllipse: a 45-degree line orients at 45 with zero minor axis; a square is isotropic") {
    import spark.implicits._
    // perfect line y = x: theta 45 deg, all variance on the major axis
    val line = (1 to 9).map(i => (i.toDouble, i.toDouble))
      .toDF("c_lat", "c_lon")
    val l = SpatialJoin.deviationalEllipse(line, "c_lat", "c_lon")
      .collect().head
    assert(l.getAs[Double]("theta_deg") == 45.0, s"$l")
    assert(l.getAs[Double]("sigma_minor") == 0.0)
    assert(l.getAs[Double]("sigma_major") > 0)
    assert(l.getAs[Double]("center_lat") == 5.0 &&
      l.getAs[Double]("center_lon") == 5.0)
    // axis-aligned unit square corners: zero covariance, equal axes
    val sq = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0))
      .toDF("c_lat", "c_lon")
    val q = SpatialJoin.deviationalEllipse(sq, "c_lat", "c_lon")
      .collect().head
    assert(q.getAs[Double]("theta_deg") == 0.0)
    assert(q.getAs[Double]("sigma_major") ==
      q.getAs[Double]("sigma_minor"), s"$q")
  }

  test("getisOrd: uniform lattice scores zero everywhere; a planted hot " +
      "3x3 block peaks at its center and cools the far corner") {
    import spark.implicits._
    // all-equal x: numerator n*s - sx*w = n*w*x - n*x*w = 0 exactly
    val flat = (for { a <- 0 to 4; b <- 0 to 4 } yield (a, b, 1L))
      .toDF("cell_lat", "cell_lon", "x")
    val fz = SpatialJoin.getisOrdOnCells(flat).collect()
    assert(fz.length == 25 && fz.forall(_.getAs[Double]("gi_z") == 0.0))
    // hot 3x3 block centered at (2,2): Gi* maximal at the center (its
    // whole queen hood is hot), negative out at the cold corner
    val hot = (for { a <- 0 to 4; b <- 0 to 4 }
      yield (a, b, if (math.abs(a - 2) <= 1 && math.abs(b - 2) <= 1) 10L
        else 1L)).toDF("cell_lat", "cell_lon", "x")
    val hz = SpatialJoin.getisOrdOnCells(hot).collect()
      .map(r => ((r.getAs[Int]("cell_lat"), r.getAs[Int]("cell_lon")),
        r.getAs[Double]("gi_z"))).toMap
    assert(hz((2, 2)) == hz.values.max && hz((2, 2)) > 2.0, s"$hz")
    assert(hz((0, 0)) < 0.0 && hz((4, 4)) < 0.0)
    // interior cells see 9 neighbors, corners 4 (self included)
    val w = SpatialJoin.getisOrdOnCells(hot).collect()
      .map(r => ((r.getAs[Int]("cell_lat"), r.getAs[Int]("cell_lon")),
        r.getAs[Long]("w_cells"))).toMap
    assert(w((2, 2)) == 9L && w((0, 0)) == 4L && w((0, 2)) == 6L)
  }

  test("joinCountsOnCells: a checkerboard pushes BW above expectation, " +
      "a solid stripe pulls it below; every adjacency counted once") {
    import spark.implicits._
    // 3x3 checkerboard: hot (x=10) on even parity, cold (x=1) —
    // 20 queen adjacencies total; hots only touch hots diagonally
    // through the center: BB=4, WW=4, BW=12 > E[BW]=2*20*(5/9)(4/9)
    val cb = (for { a <- 0 to 2; b <- 0 to 2 }
      yield (a, b, if ((a + b) % 2 == 0) 10L else 1L))
      .toDF("cell_lat", "cell_lon", "x")
    val r = SpatialJoin.joinCountsOnCells(cb).collect().head
    assert(r.getAs[Long]("n_cells") == 9L &&
      r.getAs[Long]("n_hot") == 5L, s"$r")
    assert(r.getAs[Long]("joins") == 20L, s"$r")
    assert(r.getAs[Long]("bb") == 4L && r.getAs[Long]("ww") == 4L &&
      r.getAs[Long]("bw") == 12L, s"$r")
    assert(r.getAs[Double]("e_bw") == 9.876543, s"$r")
    assert(r.getAs[Long]("bw") > r.getAs[Double]("e_bw"), s"$r")
    // solid hot column: the blob touches cold along one frontier only
    // -> BW=7 sits below its expectation 8.888889 (clustering)
    val stripe = (for { a <- 0 to 2; b <- 0 to 2 }
      yield (a, b, if (b == 0) 10L else 1L))
      .toDF("cell_lat", "cell_lon", "x")
    val s = SpatialJoin.joinCountsOnCells(stripe).collect().head
    assert(s.getAs[Long]("bb") == 2L && s.getAs[Long]("bw") == 7L, s"$s")
    assert(s.getAs[Long]("bw") < s.getAs[Double]("e_bw"), s"$s")
  }

  test("semivariogramOnCells: near pairs land in band 0 with the " +
      "exact half-mean-squared difference, far pairs band up") {
    import spark.implicits._
    // one lattice row near the equator (ctr lat -5): adjacent cells
    // ~1109 km (band 0 at 2000 km bands), two-apart ~2218 km (band 1)
    val cells = Seq((8, 0, 10L), (8, 1, 20L), (8, 2, 40L))
      .toDF("cell_lat", "cell_lon", "x")
    val out = SpatialJoin
      .semivariogramOnCells(cells, cellDeg = 10, bandKm = 2000)
      .collect()
      .map(r => (r.getAs[Long]("band"),
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("gamma")))).toMap
    // band 0: pairs (10,20),(20,40) -> (100+400)/(2*2) = 125
    // band 1: pair (10,40) -> 900/2 = 450 — gamma RISES with distance
    assert(out == Map(0L -> (2L, 125.0), 1L -> (1L, 450.0)), s"$out")
  }

  test("mantelOnCells: a value gradient along the lattice correlates " +
      "near-perfectly with distance; constant values null the ratio") {
    import spark.implicits._
    // one lattice row, counts rising with longitude: value distance
    // tracks km distance (not exactly linearly — haversine curves —
    // so r is near 1, not 1)
    val grad = Seq((0, 0, 10L), (0, 1, 20L), (0, 2, 30L), (0, 3, 40L))
      .toDF("cell_lat", "cell_lon", "x")
    val r = SpatialJoin.mantelOnCells(grad, cellDeg = 10).collect().head
    assert(r.getAs[Long]("n_pairs") == 6L, s"$r")
    assert(r.getAs[Double]("mantel_r") > 0.95, s"$r")
    // constant values: zero variance on one margin -> null, never a
    // divide-by-zero
    val flat = Seq((0, 0, 5L), (0, 1, 5L), (1, 0, 5L))
      .toDF("cell_lat", "cell_lon", "x")
    val f = SpatialJoin.mantelOnCells(flat, cellDeg = 10).collect().head
    assert(f.isNullAt(f.fieldIndex("mantel_r")), s"$f")
  }

  test("nearestSupplier: one row per customer, distance minimal") {
    val customers = Tables.customer(spark, sf)
    val out = SpatialJoin.nearestSupplier(customers, Tables.supplier(spark, sf))
    assert(out.count() == customers.count())
    val withDist = SpatialJoin.distances(customers, Tables.supplier(spark, sf))
      .groupBy("c_custkey").agg(min("dist_km").as("true_min"))
    val joined = out.join(withDist, "c_custkey")
      .filter(col("dist_km") =!= col("true_min"))
    assert(joined.count() == 0)
  }

  test("nearestSupplierGrid equals the broadcast-exact join, grid path included") {
    val customers = Tables.customer(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("c_custkey"), r.getAs[Long]("s_suppkey"), r.getAs[Double]("dist_km"))
    // real (sparse) suppliers: mostly exercises the fallback path
    val exact = SpatialJoin.nearestSupplier(customers, Tables.supplier(spark, sf))
      .collect().map(key).toSet
    val grid = SpatialJoin.nearestSupplierGrid(customers, Tables.supplier(spark, sf))
      .collect().map(key).toSet
    assert(grid == exact)
    // dense suppliers (customers reused as the supplier side): most
    // customers resolve inside the 3x3 neighborhood, so the grid path
    // itself is exercised and must still match exactly
    val dense = customers.select(col("c_custkey").as("s_suppkey"))
    val exactD = SpatialJoin.nearestSupplier(customers, dense).collect().map(key).toSet
    val gridD = SpatialJoin.nearestSupplierGrid(customers, dense, cellDeg = 40)
      .collect().map(key).toSet
    assert(gridD == exactD)
  }

  test("knnSuppliersGrid equals the broadcast-exact top-k, grid path included") {
    val customers = Tables.customer(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("c_custkey"), r.getAs[Long]("s_suppkey"),
        r.getAs[Double]("dist_km"), r.getAs[Int]("rnk"))
    def exactTopK(cs: org.apache.spark.sql.DataFrame,
                  ss: org.apache.spark.sql.DataFrame, k: Int) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
      SpatialJoin.distances(cs, ss)
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select("c_custkey", "s_suppkey", "dist_km", "rnk")
    }
    // sparse real suppliers: exercises the fallback; every customer
    // still gets exactly k ranked rows
    val suppliers = Tables.supplier(spark, sf)
    val grid = SpatialJoin.knnSuppliersGrid(customers, suppliers, k = 3)
    assert(grid.collect().map(key).toSet ==
      exactTopK(customers, suppliers, 3).collect().map(key).toSet)
    assert(grid.groupBy("c_custkey").count().filter(col("count") =!= 3).count() == 0)
    // dense supplier side (customers reused): the ring path settles most
    // customers in-grid and must still match the exact top-k
    val dense = customers.select(col("c_custkey").as("s_suppkey"))
    val gridD = SpatialJoin.knnSuppliersGrid(customers, dense, k = 3, cellDeg = 40)
    assert(gridD.collect().map(key).toSet ==
      exactTopK(customers, dense, 3).collect().map(key).toSet)
  }

  test("conversionLatency: one pass, pre-signup purchases never convert") {
    import spark.implicits._
    val ev = Seq(
      (1L, 7L, "signup", 100L), (2L, 7L, "purchase", 160L), // converts, 60s
      (3L, 8L, "signup", 100L),                             // never converts
      (4L, 9L, "purchase", 50L), (5L, 9L, "signup", 100L),  // purchase BEFORE
      (6L, 10L, "purchase", 10L)                            // never signed up
    ).map { case (id, u, t, s) => (id, u, t, s) }
      .toDF("event_id", "user_id", "event_type", "s")
      .withColumn("ts", timestamp_seconds(col("s")))
    val r = Windows.conversionLatency(ev).collect().head
    assert(r.getAs[Long]("n_started") == 3L,
      "users 7, 8, 9 signed up; user 10 must not count")
    assert(r.getAs[Long]("n_converted") == 1L,
      "only user 7 converts; user 9's purchase precedes their signup")
    assert(r.getAs[Double]("median_latency_s") == 60.0)
  }

  test("dailyConcurrency: stacked opens peak, close-at-open is NOT overlap") {
    import spark.implicits._
    // day 1: opens at 0s/100s/200s with 300s hold → all three alive at
    // 200s (max 3). day 2: open at 0s, next at exactly 300s when the
    // first CLOSES — the −1 sorts before the +1 at the same instant, so
    // max stays 1 (touching intervals don't overlap).
    val day1 = 86400L
    val ev = Seq(0L, 100L, 200L, day1 + 0L, day1 + 300L)
      .toDF("s").withColumn("ts", timestamp_seconds(col("s") + day1 * 365))
    val out = Windows.dailyConcurrency(ev, holdSeconds = 300L)
      .collect().map(r => (r.getAs[Long]("max_concurrent"),
        r.getAs[Long]("n_sessions"))).toSet
    assert(out == Set((3L, 3L), (1L, 2L)))
  }

  test("dailyConcurrency clips a session at its start day's boundary") {
    import spark.implicits._
    // one event 10s before midnight with a 300s hold: it must not leak
    // concurrency into the next day — the next day's lone event peaks at 1
    val ev = Seq(86400L - 10L, 86400L + 5L)
      .toDF("s").withColumn("ts", timestamp_seconds(col("s")))
    val byDay = Windows.dailyConcurrency(ev, holdSeconds = 300L)
      .collect().map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("max_concurrent")).toMap
    assert(byDay.values.toSeq.sorted == Seq(1L, 1L), byDay.toString)
  }

  test("activityConcentration isolates the power user above the p90 cutoff") {
    import spark.implicits._
    // 9 one-event users + 1 ten-event power user: p90 cutoff 1.9 →
    // only the power user is "top"; they hold 10/19 of events and all
    // purchase value
    val rows = (1 to 9).map(u => (u.toLong, "view", 0.0)) ++
      (1 to 10).map(i => (10L, "purchase", 1.0))
    val ev = rows.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, u, t, i.toLong, v)
    }.toDF("event_id", "user_id", "event_type", "s", "value")
      .withColumn("ts", timestamp_seconds(col("s")))
    val r = Windows.activityConcentration(ev).collect().head
    assert(r.getAs[Long]("n_users") == 10L && r.getAs[Long]("n_top") == 1L)
    assert(r.getAs[Double]("event_share") ==
      BigDecimal(10.0 / 19).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Double]("value_share") == 1.0)
  }

  test("clarkEvans: co-located keys score clustered (R << scattered); ledger closes") {
    import spark.implicits._
    def run(keys: Seq[Long]) =
      SpatialJoin.clarkEvans(keys.toDF("c_custkey")).collect().head
    def cell(k: Long) = (math.floor((((k * 17) % 1400) / 10.0 - 70.0 + 90) / 10),
      math.floor((((k * 31) % 3600) / 10.0 - 180.0 + 180) / 10))
    // 20 keys packed into one cell vs 20 sequential (scattered) keys
    val packed = (1L to 200000L).filter(k => cell(k) == cell(1L)).take(20)
    assert(packed.size == 20, s"need 20 co-located keys, got ${packed.size}")
    val c = run(packed)
    val s = run((1L to 20L))
    assert(c.getAs[Long]("n_points") == 20L)
    assert(c.getAs[Double]("clark_evans_r") <
      s.getAs[Double]("clark_evans_r") / 2,
      s"packed $c must be far more clustered than scattered $s")
    // sanity: positive distances, isolates within bounds, and the
    // packed cloud's mean NN is dramatically tighter
    assert(s.getAs[Double]("mean_nn_km") > 0 &&
      s.getAs[Long]("n_isolated") >= 0 &&
      s.getAs[Long]("n_isolated") < 20L)
    assert(c.getAs[Double]("mean_nn_km") <
      s.getAs[Double]("mean_nn_km") / 2)
  }

  test("quadratTest: singleton is CSR-neutral (vmr 1); co-located pair clusters") {
    import spark.implicits._
    def run(keys: Long*) =
      SpatialJoin.quadratTest(keys.toDF("c_custkey")).collect().head
    // one point: ssq = n = 1 → chi2 = 504·1/1 − 1 = 503, vmr exactly 1
    val one = run(1L)
    assert(one.getAs[Long]("n_points") == 1L &&
      one.getAs[Double]("vmr") == 1.0 &&
      one.getAs[Double]("chi2") == 503.0)
    // find a second key landing in key 1's cell: same-cell pair has
    // ssq = 4 → vmr = (4 − 4/504)/503/(2/504) = 2, chi2 = 1006
    def cell(k: Long) = ((math.floor((((k * 17) % 1400) / 10.0 - 70.0 + 90) / 10)),
      math.floor((((k * 31) % 3600) / 10.0 - 180.0 + 180) / 10))
    val k2 = (2L to 20000L).find(k => cell(k) == cell(1L)).get
    val pair = run(1L, k2)
    assert(pair.getAs[Double]("vmr") == 2.0 &&
      pair.getAs[Double]("chi2") == 1006.0)
    // two points in different cells: vmr < 1 (more regular than CSR)
    val k3 = (2L to 20000L).find(k => cell(k) != cell(1L)).get
    assert(run(1L, k3).getAs[Double]("vmr") < 1.0)
  }

  test("gridDensity partitions every point into exactly one cell") {
    val full = SpatialJoin.gridDensity(Tables.customer(spark, sf),
      topN = 1000000).collect()
    val total = Tables.customer(spark, sf).count()
    assert(full.map(_.getAs[Long]("n_points")).sum == total,
      "cell counts must partition the corpus")
    assert(math.abs(full.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    // densest-first ordering with the (lat, lon) tiebreak
    val ns = full.map(_.getAs[Long]("n_points"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("firstTouchAttribution credits the first event's channel, event_id ties") {
    import spark.implicits._
    val ev = Seq(
      (1L, 7L, "click", 100L, 0.0), (2L, 7L, "purchase", 160L, 10.50),
      (3L, 7L, "purchase", 200L, 5.25),              // click → 15.75
      (4L, 8L, "view", 100L, 0.0), (5L, 8L, "click", 160L, 0.0), // no buy
      (6L, 9L, "purchase", 50L, 7.0),                // self-attributed
      (7L, 10L, "signup", 100L, 0.0), (8L, 10L, "error", 100L, 0.0)
      // same ts: event_id 7 < 8 → signup wins the tiebreak
    ).toDF("event_id", "user_id", "event_type", "s", "value")
      .withColumn("ts", timestamp_seconds(col("s")))
    val rows = Windows.firstTouchAttribution(ev).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    assert(rows("click").getAs[Long]("n_users") == 1L)
    assert(rows("click").getAs[Long]("n_converted") == 1L)
    assert(rows("click").getAs[Double]("purchase_value") == 15.75)
    assert(rows("view").getAs[Long]("n_converted") == 0L)
    assert(rows("view").getAs[Double]("purchase_value") == 0.0)
    assert(rows("purchase").getAs[Double]("purchase_value") == 7.0)
    assert(rows("signup").getAs[Long]("n_users") == 1L,
      "equal-ts first event must resolve by event_id, not arrival order")
    assert(!rows.contains("error"))
  }

  test("activityStreaks finds the longest island, earliest on ties") {
    import spark.implicits._
    // user 7: days 1,2,3 then 5,6 -> longest 3 starting day 1
    // user 8: two 2-day islands (1,2 and 10,11) -> tie, earliest start
    val ev = Seq((7L, 1), (7L, 2), (7L, 2), (7L, 3), (7L, 5), (7L, 6),
      (8L, 1), (8L, 2), (8L, 10), (8L, 11))
      .zipWithIndex.map { case ((u, day), i) => (i.toLong, u, day) }
      .toDF("event_id", "user_id", "d")
      .withColumn("ts", timestamp_seconds(col("d") * 86400L))
    val got = Windows.activityStreaks(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("streak_days"),
          r.getAs[java.sql.Date]("start_day").toString))).toMap
    assert(got(7L) == ((3L, "1970-01-02")))
    assert(got(8L) == ((2L, "1970-01-02")), "tie must take the earliest island")
  }

  test("trailingWindowSums bounds the frame by time, not row count") {
    import spark.implicits._
    // seconds 0, 1800, 3600, 7201: the hour frame holds {0}, {0,1800},
    // {0,1800,3600} (inclusive bound), then {7201} alone (3601s gap)
    val ev = Seq((1L, 0L, 1.0), (2L, 1800L, 2.0), (3L, 3600L, 4.0),
      (4L, 7201L, 8.0))
      .map { case (id, s, v) => (id, 7L, v, s) }
      .toDF("event_id", "user_id", "value", "s")
      .withColumn("ts", timestamp_seconds(col("s")))
    val got = Windows.trailingWindowSums(ev).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("n_trailing"), r.getAs[Double]("sum_trailing")))).toMap
    assert(got == Map(1L -> ((1L, 1.0)), 2L -> ((2L, 3.0)),
      3L -> ((3L, 7.0)), 4L -> ((1L, 8.0))))
  }

  test("rollingDistinctTypes counts each user's type breadth so far") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 7L, "a"), (2L, 2L, 7L, "b"), (3L, 3L, 7L, "a"),
      (4L, 4L, 7L, "c"), (5L, 1L, 8L, "x")
    ).map { case (id, h, u, t) => (id, u, t, h) }
      .toDF("event_id", "user_id", "event_type", "h")
      .withColumn("ts", timestamp_seconds(col("h") * 60))
    val got = Windows.rollingDistinctTypes(ev).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("n_types_seen")).toMap
    assert(got == Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 3, 5L -> 1))
  }

  test("cusumChangepoint lands on a planted level shift") {
    import spark.implicits._
    // 4 hours at 0 then 4 hours at 10: score_i = prefix_i − i·total/n
    // bottoms at i=4 (the last low hour) with value −20
    val ev = (0 until 8).map(h =>
      (h.toLong, "shift", h.toLong, if (h < 4) 0.0 else 10.0))
      .toDF("event_id", "event_type", "h", "value")
      .withColumn("ts", timestamp_seconds(col("h") * 3600))
    val r = Resample.cusumChangepoint(ev).collect().head
    assert(r.getAs[Long]("n_hours") == 8L)
    assert(r.getAs[Double]("cusum") == -20.0)
    assert(r.getAs[java.sql.Timestamp]("cp_hour").getTime == 3L * 3600 * 1000)
  }

  test("crossCorrelation: a self-lagged series peaks at its construction lag") {
    import spark.implicits._
    // series B(t) = A(t-2): corr at lag +2 must be exactly 1 (A leads by 2h)
    val hours = 0 until 200
    def v(h: Int) = math.sin(h / 7.0) * 10 + (h % 13)
    val ev = (hours.map(h => ("click", h.toLong, v(h))) ++
      hours.map(h => ("purchase", h.toLong, v(h - 2))))
      .toDF("event_type", "h", "value")
      .withColumn("ts", timestamp_seconds(col("h") * 3600))
    val out = Resample.crossCorrelation(ev, "click", "purchase", maxLag = 4)
      .collect().map(r => r.getAs[Long]("lag") ->
        (r.getAs[Long]("n_hours"), r.getAs[Double]("xcorr"))).toMap
    assert(out.keySet == (-4L to 4L).toSet)
    assert(out(2L)._2 == 1.0, s"lag +2 should be perfect, got ${out(2L)}")
    assert((-4L to 4L).filter(_ != 2L).forall(l => out(l)._2 < 1.0))
    // overlap shrinks by |lag - 2| hours relative to the peak alignment
    assert(out(2L)._1 == 200L - 2L)
  }

  test("autocorrelation of a series with itself is exactly 1 at lag 0") {
    import spark.implicits._
    val ev = (0 until 100).map(h => ("click", h.toLong,
      math.sin(h / 5.0) * 10 + (h % 7)))
      .toDF("event_type", "h", "value")
      .withColumn("ts", timestamp_seconds(col("h") * 3600))
    val acf = Resample.crossCorrelation(ev, "click", "click", maxLag = 3)
      .filter(col("lag") >= 0).collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Double]("xcorr")).toMap
    assert(acf(0L) == 1.0)
    assert(acf.keySet == Set(0L, 1L, 2L, 3L))
    assert(acf.values.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("seasonalDecompose recovers a planted hour-of-day cycle") {
    import spark.implicits._
    // value(t) = 50 + 10·(hod == 6): type mean 50 + 10/24, seasonal
    // +10−10/24 at hod 6 and −10/24 elsewhere, residual exactly 0
    val ev = (0 until 240).map { i =>
      val hod = i % 24
      (i.toLong, "m", i * 3600L, if (hod == 6) 60.0 else 50.0)
    }.toDF("event_id", "event_type", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Resample.seasonalDecompose(ev).collect()
    val mean = 50.0 + 10.0 / 24.0
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("type_mean") - mean) < 1e-4)
      val expSeason =
        if (r.getAs[Long]("hod") == 6) 10.0 - 10.0 / 24.0 else -10.0 / 24.0
      assert(math.abs(r.getAs[Double]("seasonal") - expSeason) < 1e-4)
      assert(math.abs(r.getAs[Double]("residual")) < 1e-4,
        s"cycle fully explained → residual 0, got $r")
    }
    // components always reassemble the original value
    val bad = Resample.seasonalDecompose(Tables.events(spark, sf))
      .join(Tables.events(spark, sf), Seq("event_id"))
      .filter(abs(col("type_mean") + col("seasonal") + col("residual")
        - col("value")) > 1e-4)
    assert(bad.count() == 0)
  }

  test("epsilonClusters: grid candidates reproduce the all-pairs clustering exactly") {
    import graft.functions.SpatialFunctions.haversineKm
    // sf0.01: the default spec scale's 150 global points have no 150 km
    // neighbors at all — the equivalence needs actual clusters
    val pts = SpatialJoin.customerPoints(
        Tables.customer(spark, "/root/testdata/sf0.01"))
      .select(col("c_custkey").as("pid"), col("c_lat").as("lat"),
        col("c_lon").as("lon"))
    val grid = SpatialJoin.epsilonClusters(pts, epsKm = 300.0, cellDeg = 9)
    // oracle pairs: bounded all-pairs (test scale only), same CC labeler
    val a = pts.select(col("pid").as("d1"), col("lat").as("la"), col("lon").as("lo"))
    val b = pts.select(col("pid").as("d2"), col("lat").as("lb"), col("lon").as("lg"))
    val brutePairs = a.crossJoin(b).filter(col("d1") < col("d2"))
      .filter(round(haversineKm(col("la"), col("lo"), col("lb"), col("lg")), 4) <= 300.0)
      .select("d1", "d2")
    val brute = Dedup.dupClusters(brutePairs)
    // pair-level equivalence first: the radius join IS the all-pairs set
    val gridPairs = SpatialJoin.withinRadiusPairs(pts, epsKm = 300.0, cellDeg = 9)
      .select(col("p1").as("d1"), col("p2").as("d2"))
    assert(gridPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      brutePairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "withinRadiusPairs lost or invented a pair vs the all-pairs oracle")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(grid) == m(brute),
      "grid-bounded pair generation lost or invented an edge")
    // every cluster has >= 2 members and its id is the member minimum
    val byCluster = m(grid).groupBy(_._2)
    assert(byCluster.nonEmpty)
    byCluster.foreach { case (cid, members) =>
      assert(members.size >= 2)
      assert(members.keys.min == cid)
    }
  }

  test("lambda reconcile: batch wins the overlap day, speed serves the tail") {
    val events = Tables.events(spark, sf)
    val out = Lambda.reconciledProfile(events, cutoffDay = 20).collect()
    val byDay = out.groupBy(_.getAs[Int]("day"))
    // provenance split at the cutoff: ≤20 batch (incl. the overlap day),
    // >20 speed — serving must never hand out the partial number where
    // the recompute exists
    byDay.foreach { case (day, rows) =>
      val layers = rows.map(_.getAs[String]("layer")).toSet
      assert(layers == Set(if (day <= 20) "batch" else "speed"),
        s"day $day served from $layers")
    }
    // the overlap day's batch numbers are the FULL recompute: equal to
    // counting the raw frame, not the even-event_id slice
    val full20 = events.filter(dayofmonth(col("ts")) === 20)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byDay(20).foreach { r =>
      assert(r.getAs[Long]("n") == full20(r.getAs[String]("event_type")))
    }
    // speed days really are partial (the even-id slice is a strict subset)
    val full25 = events.filter(dayofmonth(col("ts")) === 25).count()
    assert(byDay(25).map(_.getAs[Long]("n")).sum < full25)
  }

  test("geofenceJoin: containment exact, boundaries inclusive, cross-cell zones count once") {
    import spark.implicits._
    val pts = Seq((1L, 0.0, 0.0), (2L, 2.0, 2.0), (3L, 50.0, 50.0),
      (4L, 3.0, 3.0)) // on the zone boundary: inclusive
      .toDF("pid", "lat", "lon")
    // zone A spans [-3,3]×[-3,3] — crosses FOUR 6° grid cells; points
    // 1, 2, 4 inside (4 exactly on the corner), 3 far away
    val zones = Seq((100L, -3.0, 3.0, -3.0, 3.0),
      (200L, 49.0, 51.0, 49.0, 51.0))
      .toDF("zone_id", "lat_lo", "lat_hi", "lon_lo", "lon_hi")
    val out = SpatialJoin.geofenceJoin(pts, zones).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_inside")).toMap
    assert(out == Map(100L -> 3L, 200L -> 1L),
      s"cross-cell zone must count each point exactly once: $out")
  }

  test("dbscan: minPts splits chain-bridged blobs that minPts=2 merges; noise drops") {
    import spark.implicits._
    // two 5-point dense blobs ~600 km apart, one bridge point midway
    // (≤300 km to each blob's nearest), one far-away noise singleton;
    // all on the equator so 1° lon ≈ 111 km
    def blob(base: Long, lon0: Double) =
      (0 until 5).map(i => (base + i, 0.0, lon0 + i * 0.2))
    // bridge at 3.45: 2.65° (294 km) to each blob's NEAREST point only —
    // its next-nearest sits 2.85° (316 km) away, so the bridge has
    // exactly 2 neighbors and can never be core at minPts=4
    val pts = (blob(10L, 0.0) ++ blob(20L, 6.1) ++
      Seq((1L, 0.0, 3.45), (99L, 40.0, 120.0)))
      .toDF("pid", "lat", "lon")
    // connectivity-only (minPts=2): the bridge fuses everything
    val fused = SpatialJoin.epsilonClusters(pts, epsKm = 300.0, cellDeg = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!fused.contains(99L))
    assert(fused.values.toSet.size == 1, s"expected one fused cluster: $fused")
    // true DBSCAN (minPts=4): blob members are core, the bridge is not
    // — two clusters, bridge attaches as border to the min label
    val db = SpatialJoin.dbscan(pts, epsKm = 300.0, minPts = 4, cellDeg = 9)
      .collect().map(r => (r.getAs[Long]("pid"),
        (r.getAs[Long]("cluster_id"), r.getAs[String]("role")))).toMap
    assert(!db.contains(99L), "noise must emit nothing")
    val clusters = db.collect { case (p, (c, "core")) => (p, c) }
    assert(clusters.toMap.values.toSet.size == 2,
      s"bridge must not fuse dense blobs under minPts=4: $db")
    assert((10L until 15L).forall(p => db(p)._2 == "core") &&
      (20L until 25L).forall(p => db(p)._2 == "core"))
    val (bc, brole) = db(1L)
    assert(brole == "border" && bc == 10L,
      s"bridge must attach as border to the MIN cluster label, got ($bc, $brole)")
  }

  test("funnelStages: ordered progression only; pre-stage events don't count") {
    import spark.implicits._
    def ev(id: Long, u: Long, sec: Int, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), u, t, 0.0, "{}")
    val events = Seq(
      // user 1: click BEFORE signup is ignored; then full funnel
      ev(1, 1, 1, "click"), ev(2, 1, 2, "signup"), ev(3, 1, 3, "click"),
      ev(4, 1, 4, "purchase"),
      // user 2: purchase before click → depth stops at 2
      ev(5, 2, 1, "signup"), ev(6, 2, 2, "purchase"), ev(7, 2, 3, "click"),
      // user 3: never signs up
      ev(8, 3, 1, "view")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Windows.funnelStages(events, Seq("signup", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Int]("funnel_depth"), r.getAs[Any]("t1_us") != null,
         r.getAs[Any]("t3_us") != null)).toMap
    assert(out(1L) == ((3, true, true)))
    assert(out(2L) == ((2, true, false)))
    assert(out(3L) == ((0, false, false)))
  }

  test("funnelStages: same-timestamp next-stage event does not advance depth") {
    import spark.implicits._
    def ev(id: Long, u: Long, sec: Int, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), u, t, 0.0, "{}")
    val events = Seq(
      // user 1: click shares the signup's exact ts → rejected (ties are
      // not ordered causally); the strictly-later click advances instead
      ev(1, 1, 2, "signup"), ev(2, 1, 2, "click"), ev(3, 1, 4, "click"),
      // user 2: only a tied click → depth stays at 1
      ev(4, 2, 2, "signup"), ev(5, 2, 2, "click"),
      // user 3: purchase ties the ACCEPTED click's ts → depth stays at 2
      ev(6, 3, 1, "signup"), ev(7, 3, 2, "click"), ev(8, 3, 2, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Windows.funnelStages(events, Seq("signup", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Int]("funnel_depth"), r.getAs[Any]("t1_us"), r.getAs[Any]("t2_us")))
      .toMap
    val (d1, t1u1, t2u1) = out(1L)
    assert(d1 == 2)
    // the accepted click is the LATER one, not the tied one
    assert(t2u1.asInstanceOf[Long] - t1u1.asInstanceOf[Long] == 2000000L)
    assert(out(2L)._1 == 1)
    assert(out(3L)._1 == 2)
  }

  test("cohortRetention: offset-0 counts every cohort user; offsets only shrink coverage") {
    import spark.implicits._
    def ev(u: Long, day: Int) =
      (u, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"))
    // epoch-week A is days 19719..19725 = 2023-12-28..2024-01-03:
    // users 1,2 start there; user 2 returns exactly 2 weeks after its
    // own first day; user 3 starts in a later epoch week, never returns
    val events = Seq(
      ev(1, 2), ev(1, 3),            // active only in its first week
      ev(2, 3), ev(2, 17),           // first week + offset 2 (3 + 14)
      ev(3, 9)
    ).toDF("user_id", "ts")
    val out = Windows.cohortRetention(events).collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("week_offset")) ->
        r.getAs[Long]("n_users")).toMap
    val cohorts = out.keys.map(_._1).toSet
    assert(cohorts.size == 2)
    val Seq(wA, wB) = cohorts.toSeq.sorted
    assert(out((wA, 0L)) == 2)  // both week-A users present at offset 0
    assert(out((wA, 2L)) == 1)  // only user 2 returned
    assert(!out.contains((wA, 1L)))
    assert(out((wB, 0L)) == 1)
    // every cohort's offset-0 count is its maximum (retention can't grow)
    out.groupBy(_._1._1).foreach { case (c, rows) =>
      assert(rows.values.max == out((c, 0L)))
    }
  }

  test("transitionMatrix counts consecutive pairs and normalizes per from_type") {
    import spark.implicits._
    // u1: a>b>c, u2: a>b, u3: a>c → (a,b)=2 (a,c)=1 (b,c)=1
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"),
      (2L, 4L, "a"), (2L, 5L, "b"),
      (3L, 6L, "a"), (3L, 7L, "c"))
      .toDF("user_id", "event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("event_id") * 60))
      .withColumn("event_type", col("sec"))
    val out = Windows.transitionMatrix(ev).collect()
      .map(r => ((r.getAs[String]("from_type"), r.getAs[String]("to_type")),
        (r.getAs[Long]("n"), r.getAs[Double]("prob")))).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(out(("a", "b")) == (2L, 0.666667))
    assert(out(("a", "c")) == (1L, 0.333333))
    assert(out(("b", "c")) == (1L, 1.0))
  }

  test("transitionMatrix probabilities sum to 1 per from_type on real events") {
    val sums = Windows.transitionMatrix(Tables.events(spark, sf))
      .groupBy("from_type").agg(sum("prob").as("p")).collect()
    sums.foreach(r => assert(math.abs(r.getAs[Double]("p") - 1.0) < 1e-4))
  }

  test("rfmSegments scores quintiles with 5 cleanly-separated users") {
    import spark.implicits._
    val day = 86400L
    // user i (1..5): i events, all at day 100+i (so recency ranks 5..1),
    // one purchase worth 10*i — every dimension ranks users 1<..<5
    val rows = (1 to 5).flatMap { i =>
      (1 to i).map { j =>
        (i.toLong, (100L + i) * day, if (j == i) "purchase" else "click",
          10.0 * i)
      }
    }
    val ev = rows.toDF("user_id", "sec", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Windows.rfmSegments(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("recency_days"), r.getAs[Int]("r_score"),
          r.getAs[Int]("f_score"), r.getAs[Int]("m_score"),
          r.getAs[Int]("rfm_cell"))).toMap
    // user 5 is most recent (recency 0), most frequent, highest spend
    assert(out(5L) == (0L, 5, 5, 5, 555))
    assert(out(1L) == (4L, 1, 1, 1, 111))
    assert(out(3L) == (2L, 3, 3, 3, 333))
    // rfm_cell always decomposes into its three scores
    out.values.foreach { case (_, r, f, m, cell) =>
      assert(cell == r * 100 + f * 10 + m)
    }
  }

  test("distributionRank: ties share pr/cd; extremes hit 0 and 1") {
    import spark.implicits._
    val ev = Seq(
      (1L, "click", 10.0), (2L, "click", 10.0), (3L, "click", 20.0),
      (4L, "view", 5.0))
      .toDF("event_id", "event_type", "value")
    val out = Windows.distributionRank(ev).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    // tied 10s: rank 1 of 3 → pr 0; two of three rows ≤ 10 → cd 2/3
    assert(out(1L) == (0.0, 0.666667) && out(2L) == out(1L))
    assert(out(3L) == (1.0, 1.0))
    // singleton partition: percent_rank degenerates to 0, cume_dist to 1
    assert(out(4L) == (0.0, 1.0))
  }

  test("silhouetteOnPoints: center-hugging clouds near 1, edge-straddling line near 0") {
    import spark.implicits._
    def pts(rows: Seq[(Double, Double)]) = rows.zipWithIndex.map {
      case ((la, lo), i) => (i.toLong, la, lo)
    }.toDF("c_custkey", "c_lat", "c_lon")
    // two tight clouds at the centers of far-apart 10° cells
    val tight = pts((0 until 20).map(i =>
      (5.0 + 0.01 * (i % 5), 5.0 + 0.01 * (i / 5))) ++
      (0 until 20).map(i =>
        (45.0 + 0.01 * (i % 5), 45.0 + 0.01 * (i / 5))))
    val t = SpatialJoin.silhouetteOnPoints(tight, 10).collect().head
    assert(t.getAs[Long]("n_cells") == 2)
    assert(t.getAs[Double]("mean_silhouette") > 0.95, s"$t")
    // a line of points straddling the lat=0 cell edge: the quantization
    // slices a natural cluster in half — silhouette collapses
    val straddle = pts((0 until 40).map(i => (-2.0 + 0.1 * i, 5.0)))
    val s = SpatialJoin.silhouetteOnPoints(straddle, 10).collect().head
    assert(s.getAs[Double]("mean_silhouette") < 0.75 &&
      s.getAs[Double]("mean_silhouette") <
        t.getAs[Double]("mean_silhouette") - 0.2,
      s"edge-sliced cluster must score clearly lower: $s vs $t")
  }

  test("daviesBouldinOnPoints: hand value on planted pair; singleton cell scores 0") {
    import spark.implicits._
    def pts(rows: Seq[(Double, Double)]) = rows.zipWithIndex.map {
      case ((la, lo), i) => (i.toLong, la, lo)
    }.toDF("c_custkey", "c_lat", "c_lon")
    // two 2-point clusters, σ = 1 each, centroids 40° apart:
    // R = (1+1)/40 = 0.05 for both → DB exactly 0.05
    val two = SpatialJoin.daviesBouldinOnPoints(
      pts(Seq((1.0, 1.0), (1.0, 3.0), (41.0, 1.0), (41.0, 3.0))), 10)
      .collect().head
    assert(two.getAs[Long]("n_cells") == 2 &&
      two.getAs[Long]("n_points") == 4 &&
      two.getAs[Double]("db_index") == 0.05)
    // tighter clusters at the same separation → strictly better (lower)
    val tighter = SpatialJoin.daviesBouldinOnPoints(
      pts(Seq((1.0, 1.9), (1.0, 2.1), (41.0, 1.9), (41.0, 2.1))), 10)
      .collect().head
    assert(tighter.getAs[Double]("db_index") < 0.05)
    // single occupied cell: degenerate convention, 0 not null/empty
    val one = SpatialJoin.daviesBouldinOnPoints(
      pts(Seq((1.0, 1.0), (1.0, 2.0))), 10).collect().head
    assert(one.getAs[Long]("n_cells") == 1 &&
      one.getAs[Double]("db_index") == 0.0)
  }

  test("moranOnCells: gradient lattice clusters positive, checkerboard negative") {
    import spark.implicits._
    def lattice(f: (Int, Int) => Double) = (for {
      la <- 0 until 6; lo <- 0 until 6
    } yield (la, lo, f(la, lo))).toDF("cell_lat", "cell_lon", "x")
    // smooth gradient: neighbors deviate the same way → strong positive
    val grad = SpatialJoin.moranOnCells(lattice((la, lo) => la + lo))
      .collect().head
    assert(grad.getAs[Long]("n_cells") == 36 &&
      grad.getAs[Long]("w_pairs") == 120)
    assert(grad.getAs[Double]("moran_i") > 0.5, s"$grad")
    // checkerboard: every neighbor deviates oppositely → I near −1
    val check = SpatialJoin.moranOnCells(
      lattice((la, lo) => if ((la + lo) % 2 == 0) 10.0 else 0.0))
      .collect().head
    assert(check.getAs[Double]("moran_i") == -1.0, s"$check")
    assert(math.abs(check.getAs[Double]("expected_i") + 1.0 / 35) < 1e-6)
  }

  test("entropyRate: deterministic cycle scores 0, uniform chain hits ln k") {
    import spark.implicits._
    def ev(types: Seq[String]) = types.zipWithIndex.map { case (t, i) =>
      (1L, i.toLong, i.toLong, t)
    }.toDF("user_id", "event_id", "s", "event_type")
      .select(col("user_id"), col("event_id"),
        timestamp_seconds(col("s")).as("ts"), col("event_type"))
    // strict A B A B …: the next state is certain → H = 0
    val cyc = Windows.entropyRate(
      ev(Seq.tabulate(40)(i => if (i % 2 == 0) "A" else "B")))
      .collect().head
    assert(cyc.getAs[Double]("entropy_rate") == 0.0 &&
      cyc.getAs[Double]("predictability") == 1.0, s"$cyc")
    // A A B B A A B B …: from EACH state both successors are equally
    // frequent → H = ln 2 exactly, predictability 0
    val uni = Windows.entropyRate(
      ev(Seq.tabulate(41)(i => if (i % 4 < 2) "A" else "B")))
      .collect().head
    assert(math.abs(uni.getAs[Double]("entropy_rate") - math.log(2)) < 1e-4,
      s"$uni")
    assert(math.abs(uni.getAs[Double]("predictability")) < 1e-4)
  }

  test("markovAttribution: necessary channel gets effect 1, parallel paths split") {
    import spark.implicits._
    def ev(rows: Seq[(Long, String, Long)]) = rows.zipWithIndex
      .map { case ((u, t, s), i) => (u, t, s, i.toLong) }
      .toDF("user_id", "event_type", "s", "event_id")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("s")).as("ts"), col("event_id"))
    // all conversions flow through A; B leads nowhere
    val gated = ev(Seq((1L, "A", 0L), (1L, "purchase", 10L),
      (2L, "A", 0L), (2L, "purchase", 10L), (3L, "B", 0L)))
    val g = Windows.markovAttribution(gated).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Double]("removal_effect"), r.getAs[Double]("attribution")))
      .toMap
    assert(g("A") == (1.0, 1.0),
      s"severing the only conversion path must kill all conversion: $g")
    assert(g("B")._1 == 0.0)
    // two independent converting paths: symmetric 50/50 split
    val parallel = ev(Seq((1L, "A", 0L), (1L, "purchase", 10L),
      (2L, "B", 0L), (2L, "purchase", 10L)))
    val p = Windows.markovAttribution(parallel).collect()
      .map(r => r.getAs[String]("channel") ->
        r.getAs[Double]("attribution")).toMap
    assert(p == Map("A" -> 0.5, "B" -> 0.5), s"symmetric paths: $p")
  }

  test("stickiness: DAU over trailing distinct actives, hand-checked") {
    import spark.implicits._
    val day = 86400L
    // u1 active d1,d2; u2 active d1; u3 active d3 (window = 2 days)
    val ev = Seq((1L, 0L), (1L, day), (2L, 0L), (3L, 2 * day))
      .toDF("user_id", "s")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"))
    val out = Windows.stickiness(ev, window = 2).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("mau"),
          r.getAs[Double]("stickiness"))).toMap
    // d1: dau 2, mau 2 (only d1 in window) → 1.0
    assert(out("1970-01-01") == (2L, 2L, 1.0))
    // d2: dau 1 (u1), mau 2 (u1,u2 over d1-d2) → 0.5
    assert(out("1970-01-02") == (1L, 2L, 0.5))
    // d3: dau 1 (u3), mau 2 (u1 from d2, u3) → 0.5
    assert(out("1970-01-03") == (1L, 2L, 0.5))
  }

  test("newVsReturning splits daily actives on first-seen day, dedups within day") {
    import spark.implicits._
    val day = 86400L
    // u1: d1,d2 · u2: d1 (twice — one active day) · u3: d2,d3
    val ev = Seq((1L, 0L), (1L, day), (2L, 100L), (2L, 200L),
      (3L, day), (3L, 2 * day))
      .toDF("user_id", "s")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"))
    val out = Windows.newVsReturning(ev).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("new_users"), r.getAs[Long]("returning_users")))
      .toMap
    assert(out.size == 3)
    assert(out("1970-01-01") == (2L, 0L),
      "two first-time users on day 1; u2's second event must not double-count")
    assert(out("1970-01-02") == (1L, 1L))
    assert(out("1970-01-03") == (0L, 1L))
  }

  test("ripleyOnPoints: a tight cluster is clustered at small r, pair counts nest") {
    import spark.implicits._
    // 20 points inside a ~30 km blob + 20 spread far apart: at r=100
    // every blob pair is inside → k_ratio >> 1; counts must be
    // monotone in r and the CSR share must match the pinned constants
    val blob = (0 until 20).map(i =>
      (i.toLong, 10.0 + i * 0.01, 20.0 + i * 0.01))
    val sparse = (0 until 20).map(i =>
      (100L + i, -60.0 + i * 6.0, -170.0 + i * 17.0))
    val pts = (blob ++ sparse).toDF("pid", "lat", "lon")
    val out = SpatialJoin.ripleyOnPoints(pts, Seq(100.0, 200.0, 400.0))
      .collect().map(r => r.getAs[Double]("r_km") -> r).toMap
    val n100 = out(100.0).getAs[Long]("n_pairs")
    assert(n100 >= 190L, s"blob pairs must all count: $n100") // C(20,2)
    assert(out(100.0).getAs[Double]("k_ratio") > 100.0)
    assert(n100 <= out(200.0).getAs[Long]("n_pairs") &&
      out(200.0).getAs[Long]("n_pairs") <= out(400.0).getAs[Long]("n_pairs"))
    assert(out(100.0).getAs[Double]("csr_share") == 6.554e-5 ||
      math.abs(out(100.0).getAs[Double]("csr_share") - 6.554e-5) < 1e-9)
  }

  test("hurstRS: a trend is persistent (H near 1), a sawtooth is anti-persistent") {
    import spark.implicits._
    def hourlyEv(f: Int => Double, n: Int) = (0 until n).map { h =>
      (h.toLong * 3600L, "click", f(h))
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    val trend = Resample.hurstRS(hourlyEv(h => h * 1.0, 704)).collect()
    assert(trend.length == 3)
    val hTrend = trend.head.getAs[Double]("hurst")
    assert(hTrend > 0.85, s"linear trend must look persistent: $hTrend")
    // full blocks only: 704 hours → 22 / 11 / 5 blocks
    val byB = trend.map(r => r.getAs[Int]("block_size") ->
      r.getAs[Long]("n_blocks")).toMap
    assert(byB == Map(32 -> 22L, 64 -> 11L, 128 -> 5L))
    val saw = Resample.hurstRS(
      hourlyEv(h => if (h % 2 == 0) 0.0 else 10.0, 704)).collect()
    assert(saw.head.getAs[Double]("hurst") < 0.3,
      "alternating series must look anti-persistent")
  }

  test("attributionWindows: credit is monotone in the window; gaps bind exactly") {
    import spark.implicits._
    // user 1: click at t=0, purchases at +30min, +2h, +30h
    // user 2: purchase with NO preceding click (never credited)
    val ev = Seq(
      (1L, 1L, "click", 0L), (1L, 2L, "purchase", 1800L),
      (1L, 3L, "purchase", 7200L), (1L, 4L, "purchase", 108000L),
      (2L, 5L, "purchase", 500L))
      .toDF("user_id", "event_id", "event_type", "s")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_seconds(col("s")).as("ts"))
    val out = Windows.attributionWindows(ev).collect()
      .map(r => r.getAs[Long]("window_s") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Long]("n_credited"),
          r.getAs[Double]("credited_share"))).toMap
    assert(out(3600L) == ((4L, 1L, 0.25)))
    assert(out(21600L) == ((4L, 2L, 0.5)))
    assert(out(86400L) == ((4L, 2L, 0.5)), "30h gap stays uncredited")
    // ladder monotone on the real corpus
    val real = Windows.attributionWindows(Tables.events(spark, sf))
      .orderBy("window_s").collect()
      .map(_.getAs[Long]("n_credited"))
    assert(real.zip(real.tail).forall { case (a, b) => a <= b })
  }

  test("growthAccounting: hand ledger; the accounting identity closes every week") {
    import spark.implicits._
    // w1 {1,2} → w2 {1,3} → w3 {2,3}: user2 churns then resurrects,
    // user1 churns at w3, user3 arrives new at w2
    def ev(rows: (Long, String)*) = rows.toSeq.toDF("user_id", "d")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"))
    val out = Windows.growthAccounting(ev(
      (1L, "1970-01-05"), (2L, "1970-01-06"),
      (1L, "1970-01-12"), (3L, "1970-01-13"),
      (2L, "1970-01-19"), (3L, "1970-01-20")))
      .collect()
      .map(r => r.getDate(0).toString ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
          r.getAs[Long]("n_retained"), r.getAs[Long]("n_resurrected"),
          r.getAs[Long]("n_churned"))).toMap
    assert(out("1970-01-05") == ((2L, 2L, 0L, 0L, 0L)))
    assert(out("1970-01-12") == ((2L, 1L, 1L, 0L, 1L)))
    assert(out("1970-01-19") == ((2L, 0L, 1L, 1L, 1L)))
    // ledger identity on the real corpus: active = prev + new + res − churn
    val real = Windows.growthAccounting(Tables.events(spark, sf))
      .orderBy("week").collect()
    real.sliding(2).foreach {
      case Array(p, c) =>
        assert(c.getAs[Long]("n_active") == p.getAs[Long]("n_active") +
          c.getAs[Long]("n_new") + c.getAs[Long]("n_resurrected") -
          c.getAs[Long]("n_churned"),
          s"ledger must close at ${c.getDate(0)}")
      case _ =>
    }
  }

  test("intervalMerge: overlaps fuse, touching fuses, gaps split; cover is exact") {
    import spark.implicits._
    def ev(rows: (Long, Long, Long)*) = rows.toSeq
      .toDF("user_id", "event_id", "s")
      .select(col("user_id"), col("event_id"),
        timestamp_seconds(col("s")).as("ts"))
    // user 1: [0,1800)∪[1000,2800) fuse; [5000,6800) is its own block
    // user 2: [0,1800) and [1800,3600) TOUCH → one block of 3600
    val out = Windows.intervalMerge(ev(
      (1L, 1L, 0L), (1L, 2L, 1000L), (1L, 3L, 5000L),
      (2L, 4L, 0L), (2L, 5L, 1800L))).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("covered_seconds")))
      .toMap
    assert(out(1L) == ((2L, 4600L)), s"${out(1L)}")
    assert(out(2L) == ((1L, 3600L)), s"${out(2L)}")
  }

  test("cohortLtv: hand-computed two-cohort triangle, LTV accumulates") {
    import spark.implicits._
    // week starts (Mondays): 1970-01-05, -12, -19
    def ev(u: Long, day: String, v: Double) =
      (u, "purchase", v, day)
    val df = Seq(
      ev(1, "1970-01-05", 10.0), ev(2, "1970-01-06", 20.0), // cohort w1
      ev(1, "1970-01-13", 5.0),                             // w1 +1wk
      ev(3, "1970-01-14", 40.0),                            // cohort w2
      ev(1, "1970-01-20", 2.5), ev(3, "1970-01-21", 1.5))   // +2wk/+1wk
      .toDF("user_id", "event_type", "value", "d")
      .select(col("user_id"), col("event_type"), col("value"),
        to_timestamp(col("d")).as("ts"))
    val out = Windows.cohortLtv(df).collect()
      .map(r => (r.getDate(0).toString, r.getAs[Int]("weeks_since")) -> r)
      .toMap
    val c1w0 = out(("1970-01-05", 0))
    assert(c1w0.getAs[Long]("n_cohort") == 2L &&
      c1w0.getAs[Long]("n_active") == 2L &&
      c1w0.getAs[Double]("revenue") == 30.0 &&
      c1w0.getAs[Double]("cum_ltv_per_user") == 15.0)
    val c1w2 = out(("1970-01-05", 2))
    assert(c1w2.getAs[Double]("cum_ltv_per_user") == 18.75) // 37.5/2
    val c2w1 = out(("1970-01-12", 1))
    assert(c2w1.getAs[Long]("n_cohort") == 1L &&
      c2w1.getAs[Double]("cum_ltv_per_user") == 41.5)
  }
}
