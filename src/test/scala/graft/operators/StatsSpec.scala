package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {

  import spark.implicits._

  test("welchTTest matches the closed-form statistic on a known sample") {
    // A = [1,2,3,4]            n=4, mean=2.5, var=5/3
    // B = [2,4,6,8,10]         n=5, mean=6,   var=10
    // t = -3.5/sqrt(5/12 + 2) = -2.2514, Welch df = 5.5208
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("A", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0, 10.0).map(("B", _))).toDF("g", "v")
    val row = Stats.welchTTest(df, "g", "v").collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getAs[String]("group_a") == "A" && r.getAs[String]("group_b") == "B")
    assert(r.getAs[Long]("na") == 4L && r.getAs[Long]("nb") == 5L)
    assert(math.abs(r.getAs[Double]("t_stat") - -2.2514) < 1e-4)
    assert(math.abs(r.getAs[Double]("df") - 5.5208) < 1e-4)
  }

  test("welchTTest emits each unordered group pair once, identical groups score t=0") {
    val df = (Seq.tabulate(20)(i => ("x", i.toDouble)) ++
      Seq.tabulate(20)(i => ("y", i.toDouble)) ++
      Seq.tabulate(20)(i => ("z", i * 2.0))).toDF("g", "v")
    val rows = Stats.welchTTest(df, "g", "v").collect()
    val pairs = rows.map(r =>
      (r.getAs[String]("group_a"), r.getAs[String]("group_b"))).toSet
    assert(pairs == Set(("x", "y"), ("x", "z"), ("y", "z")))
    val xy = rows.find(r => r.getAs[String]("group_a") == "x" &&
      r.getAs[String]("group_b") == "y").get
    assert(xy.getAs[Double]("t_stat") == 0.0,
      "identical distributions must score exactly t=0")
  }

  test("anovaF matches the closed-form F on a known sample") {
    // A=[1,2,3,4] B=[2,4,6,8,10] C=[5,5,5]: N=12, k=3, F=2.7917
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("A", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0, 10.0).map(("B", _)) ++
      Seq(5.0, 5.0, 5.0).map(("C", _))).toDF("g", "v")
    val r = Stats.anovaF(df, "g", "v").collect().head
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n_total") == 12L)
    assert(r.getAs[Long]("df1") == 2L && r.getAs[Long]("df2") == 9L)
    assert(math.abs(r.getAs[Double]("f_stat") - 2.7917) < 1e-4)
  }

  test("chiSquare matches the closed form; independent data scores 0") {
    // observed [[10,20],[20,10]]: all expected 15, chi2 = 4*25/15 = 6.6667
    val skewed = (Seq.fill(10)(("a1", "c1")) ++ Seq.fill(20)(("a1", "c2")) ++
      Seq.fill(20)(("a2", "c1")) ++ Seq.fill(10)(("a2", "c2"))).toDF("a", "b")
    val r = Stats.chiSquare(skewed, "a", "b").collect().head
    assert(math.abs(r.getAs[Double]("chi2") - 6.6667) < 1e-4)
    assert(r.getAs[Long]("df") == 1L && r.getAs[Long]("n_total") == 60L)
    // exactly-proportional cells (8,4 / 4,2): chi2 must be exactly 0
    val indep = (Seq.fill(8)(("x", "p")) ++ Seq.fill(4)(("x", "q")) ++
      Seq.fill(4)(("y", "p")) ++ Seq.fill(2)(("y", "q"))).toDF("a", "b")
    assert(Stats.chiSquare(indep, "a", "b").collect()
      .head.getAs[Double]("chi2") == 0.0)
  }

  test("chiSquare counts never-observed cells at their expected mass") {
    // (y,q) absent: full-grid chi2 = .8333+2.5+.8333+2.5 = 6.6667; a
    // cells-only formulation would miss the (0-2.5)^2/2.5 term
    val df = (Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("x", "q")) ++
      Seq.fill(10)(("y", "p"))).toDF("a", "b")
    val r = Stats.chiSquare(df, "a", "b").collect().head
    assert(math.abs(r.getAs[Double]("chi2") - 6.6667) < 1e-4)
    assert(r.getAs[Long]("df") == 1L)
  }

  test("ksTest matches hand-computed D and hits the 0 / 1 extremes") {
    // A=[1,2,3,4] B=[3,4,5,6]: max ECDF gap at v=2 (or 4): 0.5
    def mk(as: Seq[Double], bs: Seq[Double]) =
      (as.map(("A", _)) ++ bs.map(("B", _))).toDF("g", "v")
    val r = Stats.ksTest(mk(Seq(1, 2, 3, 4), Seq(3, 4, 5, 6)), "g", "v", "A", "B")
      .collect().head
    assert(r.getAs[Double]("d_stat") == 0.5)
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    // identical samples: D = 0; fully separated samples: D = 1
    assert(Stats.ksTest(mk(Seq(1, 2, 3), Seq(1, 2, 3)), "g", "v", "A", "B")
      .collect().head.getAs[Double]("d_stat") == 0.0)
    assert(Stats.ksTest(mk(Seq(1, 2, 3), Seq(7, 8, 9)), "g", "v", "A", "B")
      .collect().head.getAs[Double]("d_stat") == 1.0)
  }

  test("mannWhitneyU matches the hand-computed U and tie-corrected z") {
    def mk(as: Seq[Double], bs: Seq[Double]) =
      (as.map(("A", _)) ++ bs.map(("B", _))).toDF("g", "v")
    // A=[1,2,3] B=[4,5,6]: R1=6, U=0, z=-4.5/sqrt(5.25)=-1.9640
    val r1 = Stats.mannWhitneyU(mk(Seq(1, 2, 3), Seq(4, 5, 6)), "g", "v", "A", "B")
      .collect().head
    assert(r1.getAs[Double]("u_stat") == 0.0)
    assert(math.abs(r1.getAs[Double]("z") - -1.964) < 1e-3)
    // ties: A=[1,2,2] B=[2,3]: U=1, ties term 24, var 2.4, z=-1.291
    val r2 = Stats.mannWhitneyU(mk(Seq(1, 2, 2), Seq(2, 3)), "g", "v", "A", "B")
      .collect().head
    assert(r2.getAs[Double]("u_stat") == 1.0)
    assert(math.abs(r2.getAs[Double]("z") - -1.291) < 1e-3)
    assert(r2.getAs[Long]("n_a") == 3L && r2.getAs[Long]("n_b") == 2L)
  }

  test("mannWhitneyU is stripe-count invariant and symmetric (U1+U2=na*nb)") {
    // stripe-count invariance: StripedPrefixSpec, on this frame
    val as = Seq.tabulate(300)(i => ("A", (i * 7919 % 997) / 9.0))
    val bs = Seq.tabulate(250)(i => ("B", (i * 104729 % 1201) / 11.0))
    val df = (as ++ bs).toDF("g", "v")
    val u1 = Stats.mannWhitneyU(df, "g", "v", "A", "B")
      .collect().head.getAs[Double]("u_stat")
    val u2 = Stats.mannWhitneyU(df, "g", "v", "B", "A")
      .collect().head.getAs[Double]("u_stat")
    assert(u1 + u2 == 300.0 * 250.0, s"U1+U2 must equal na*nb, got ${u1 + u2}")
  }

  test("ksTest is stripe-count invariant (distributed prefix sum is exact)") {
    // stripe-count invariance: StripedPrefixSpec, on this frame; here
    // the statistic must still come out (a sup of |Fa − Fb| ∈ [0, 1])
    val as = Seq.tabulate(400)(i => ("A", (i * 7919 % 1000) / 10.0))
    val bs = Seq.tabulate(300)(i => ("B", (i * 104729 % 1300) / 11.0))
    val df = (as ++ bs).toDF("g", "v")
    val r = Stats.ksTest(df, "g", "v", "A", "B").collect().head
    // driver-side D over the same distinct values
    val (va, vb) = (as.map(_._2), bs.map(_._2))
    val d = (va ++ vb).distinct.map(x =>
      math.abs(va.count(_ <= x).toDouble / va.size -
        vb.count(_ <= x).toDouble / vb.size)).max
    assert(math.abs(r.getAs[Double]("d_stat") - d) < 1e-6)
    assert(r.getAs[Long]("n_a") == 400L && r.getAs[Long]("n_b") == 300L)
  }

  test("olsRegression recovers an exact line and matches hand-computed R²") {
    // exact line y = 2x: slope 2, intercept 0, r2 1
    val exact = Seq(1.0, 2.0, 3.0, 4.0).map(x => ("g", x, 2 * x))
      .toDF("g", "x", "y")
    val e = Stats.olsRegression(exact, "g", "x", "y").collect().head
    assert(e.getAs[Long]("n") == 4L)
    assert(e.getAs[Double]("slope") == 2.0)
    assert(e.getAs[Double]("intercept") == 0.0)
    assert(e.getAs[Double]("r2") == 1.0)
    // noisy: x=[1,2,3,4], y=[1,3,2,5] → slope 1.1, intercept 0,
    // r2 = Sxy²/(Sxx·Syy) = 5.5²/(5·8.75) = 0.691429
    val noisy = Seq((1.0, 1.0), (2.0, 3.0), (3.0, 2.0), (4.0, 5.0))
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = Stats.olsRegression(noisy, "g", "x", "y").collect().head
    assert(math.abs(r.getAs[Double]("slope") - 1.1) < 1e-9)
    assert(math.abs(r.getAs[Double]("intercept")) < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 0.691429) < 1e-6)
  }

  test("iqrOutliers flags exactly the points beyond the Tukey fences") {
    // 1..11 plus planted outliers -100 and 100: Q1=3, Q3=9 over the 13
    // values -> actually compute via percentile on the full set
    val vals = (1 to 11).map(_.toDouble) ++ Seq(-100.0, 100.0)
    val df = vals.map(("g", _)).toDF("g", "v")
    val r = Stats.iqrOutliers(df, "g", "v").collect().head
    assert(r.getAs[Long]("n") == 13L)
    val q1 = r.getAs[Double]("q1"); val q3 = r.getAs[Double]("q3")
    val lo = q1 - (q3 - q1) * 1.5; val hi = q3 + (q3 - q1) * 1.5
    assert(r.getAs[Long]("n_low") == vals.count(_ < lo))
    assert(r.getAs[Long]("n_high") == vals.count(_ > hi))
    assert(r.getAs[Long]("n_low") == 1L && r.getAs[Long]("n_high") == 1L)
  }

  test("madByGroup is outlier-immune where stddev is not") {
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 1000.0).map(("a", _)) ++
      Seq(10.0, 10.0, 10.0).map(("b", _))).toDF("g", "v")
    val r = Stats.madByGroup(df, "g", "v").collect()
      .map(x => x.getString(0) -> x).toMap
    // group a: median 3, |dev| = [2,1,0,1,997] -> mad 1 (the 1000 outlier
    // would drag stddev to ~446 but moves the MAD not at all)
    assert(r("a").getAs[Double]("median") == 3.0)
    assert(r("a").getAs[Double]("mad") == 1.0)
    assert(r("a").getAs[Double]("mad_sigma") == 1.4826)
    // constant group: zero dispersion by any robust measure
    assert(r("b").getAs[Double]("mad") == 0.0)
  }

  test("cramersV: exactly 1 on a determined copy, exactly 0 on independence") {
    // b = f(a) bijectively: chi2 = n·min(r-1,c-1), V = 1
    val copy = Seq("x", "y", "z", "x", "y").map(v => (v, v.toUpperCase))
      .toDF("a", "b")
    assert(Stats.cramersV(copy, "a", "b").collect().head
      .getAs[Double]("cramers_v") == 1.0)
    // balanced product distribution: observed == expected, chi2 = V = 0
    val indep = (for { a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 3 }
      yield (a, b)).toDF("a", "b")
    val r = Stats.cramersV(indep, "a", "b").collect().head
    assert(r.getAs[Double]("cramers_v") == 0.0 &&
      r.getAs[Double]("chi2") == 0.0 && r.getAs[Long]("n_total") == 12L)
  }

  test("spearman: 1 on any monotone map, -1 reversed, stripe-invariant with ties") {
    val mono = Seq(1.0, 2.0, 5.0, 9.0).map(v => (v, v * v)).toDF("x", "y")
    assert(Stats.spearman(mono, "x", "y").collect().head
      .getAs[Double]("spearman_rho") == 1.0)
    val anti = Seq(1.0, 2.0, 5.0, 9.0).map(v => (v, -v * v)).toDF("x", "y")
    assert(Stats.spearman(anti, "x", "y").collect().head
      .getAs[Double]("spearman_rho") == -1.0)
    // heavy ties (stripe-count invariance: StripedPrefixSpec, on this
    // frame)
    val tied = Seq.tabulate(300)(i => ((i % 7).toDouble, (i * 31 % 13).toDouble))
      .toDF("x", "y")
    val rho = Stats.spearman(tied, "x", "y").collect().head
    // driver-side Pearson of the midranks
    def midranks(xs: Seq[Double]): Seq[Double] = xs.map(x =>
      xs.count(_ < x) + (xs.count(_ == x) + 1) / 2.0)
    val pts = tied.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val (rx, ry) = (midranks(pts.map(_._1)), midranks(pts.map(_._2)))
    val (mx, my) = (rx.sum / rx.size, ry.sum / ry.size)
    val cxy = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val expect = cxy / math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum *
      ry.map(b => (b - my) * (b - my)).sum)
    assert(rho.getAs[Long]("n") == 300L)
    assert(math.abs(rho.getAs[Double]("spearman_rho") - expect) < 1e-6)
  }

  test("benford extracts first digits exactly and shares sum to 1") {
    val df = Seq(1.0, 19.5, 2000.0, 0.031, 250.0, 999.99, -5.0, 0.0)
      .toDF("v") // negatives and zeros are excluded
    val rows = Stats.benford(df, "v").collect()
      .map(r => r.getAs[Int]("digit") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("observed")))).toMap
    // digits: 1(1.0), 1(19.5), 2(2000), 3(0.031), 2(250), 9(999.99)
    assert(rows.keySet == Set(1, 2, 3, 9))
    assert(rows(1)._1 == 2L && rows(2)._1 == 2L &&
      rows(3)._1 == 1L && rows(9)._1 == 1L)
    assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-9)
    val exp1 = Stats.benford(df, "v").collect()
      .find(_.getAs[Int]("digit") == 1).get.getAs[Double]("expected")
    assert(math.abs(exp1 - math.log10(2.0)) < 1e-6)
  }

  test("corrMatrix emits every unordered pair once with exact signs") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).map(x => (x, 2 * x, -x, 5.0))
      .toDF("a", "b", "c", "d")
    val got = Stats.corrMatrix(df, Seq("a", "b", "c", "d")).collect()
      .map(r => (r.getAs[String]("col_x"), r.getAs[String]("col_y")) ->
        r.getAs[Any]("corr_xy")).toMap
    assert(got.size == 6)
    assert(got(("a", "b")) == 1.0 && got(("a", "c")) == -1.0)
    assert(got(("b", "c")) == -1.0)
    // constant column: correlation undefined -> null (not 0, not NaN)
    assert(got(("a", "d")) == null)
  }

  test("groupQuantiles equals the global quantiles on a single group") {
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("g", "v")
    val r = Stats.groupQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.9))
      .collect().head
    val g = Stats.quantiles(df, "v", Seq(0.25, 0.5, 0.9)).collect().head
    assert(r.getAs[Double]("q25") == g.getAs[Double]("q25"))
    assert(r.getAs[Double]("q50") == g.getAs[Double]("q50"))
    assert(r.getAs[Double]("q90") == g.getAs[Double]("q90"))
  }

  test("mutualInformation: exactly 0 on independent columns, ln 2 on a copy") {
    import org.apache.spark.sql.Row
    // proportional cells (8,4 / 4,2): p(x,y) = p(x)p(y) exactly -> MI 0
    val indep = (Seq.fill(8)(("x", "p")) ++ Seq.fill(4)(("x", "q")) ++
      Seq.fill(4)(("y", "p")) ++ Seq.fill(2)(("y", "q"))).toDF("a", "b")
    val r0: Row = Stats.mutualInformation(indep, "a", "b").collect().head
    assert(r0.getAs[Double]("mi_nats") == 0.0)
    assert(r0.getAs[Long]("n_total") == 18L && r0.getAs[Long]("n_cells") == 4L)
    // b == a uniform over 2 symbols: MI = H = ln 2
    val copy = (Seq.fill(5)(("u", "u")) ++ Seq.fill(5)(("v", "v")))
      .toDF("a", "b")
    val r1 = Stats.mutualInformation(copy, "a", "b").collect().head
    assert(math.abs(r1.getAs[Double]("mi_nats") - math.log(2)) < 1e-6)
  }

  test("gini: 0.25 on [1,2,3,4], exactly 0 on a uniform group") {
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("ramp", _)) ++
      Seq.fill(7)(("flat", 5.0))).toDF("g", "v")
    val rows = Stats.gini(df, "g", "v").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(rows("ramp").getAs[Long]("n") == 4L)
    assert(rows("ramp").getAs[Double]("gini") == 0.25)
    assert(rows("flat").getAs[Double]("gini") == 0.0,
      "perfect equality must score exactly 0")
  }

  test("auc: hand case 0.875 with a tie counted half; separable is 1") {
    // pos [2,3] vs neg [1,2]: wins (2,1),(3,1),(3,2); tie (2,2) half
    val df = (Seq(2.0, 3.0).map(("p", _)) ++ Seq(1.0, 2.0).map(("n", _)))
      .toDF("g", "v")
    val r = Stats.auc(df, "g", "v", "p", "n").collect().head
    assert(r.getAs[Double]("auc") == 0.875)
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
    // perfectly separated classes score exactly 1
    val sep = (Seq(10.0, 11.0).map(("p", _)) ++ Seq(1.0, 2.0).map(("n", _)))
      .toDF("g", "v")
    assert(Stats.auc(sep, "g", "v", "p", "n").collect()
      .head.getAs[Double]("auc") == 1.0)
  }

  test("brownForsythe: shifted copies score F=0, scaled copy scores 0.8") {
    // shifted groups have identical |x - median| profiles → ssb = 0
    val shifted = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    assert(Stats.brownForsythe(shifted, "g", "v").collect()
      .head.getAs[Double]("f_stat") == 0.0)
    // [1,2,3] vs 2×-scaled [2,4,6]: z-profiles [1,0,1] vs [2,0,2] →
    // ssb = 2/3, ssw = 10/3, F = (2/3) / ((10/3)/4) = 0.8 by hand
    val scaled = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0).map(("b", _))).toDF("g", "v")
    val r = Stats.brownForsythe(scaled, "g", "v").collect().head
    assert(r.getAs[Double]("f_stat") == 0.8)
    assert(r.getAs[Long]("df1") == 1L && r.getAs[Long]("df2") == 4L)
  }

  test("cohensD: unit-variance groups three means apart score exactly -3") {
    // a=[1,2,3] (m 2, v 1), b=[4,5,6] (m 5, v 1): pooled sd 1, d = -3
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val r = Stats.cohensD(df, "g", "v").collect()
    assert(r.length == 1, "k groups must yield k(k-1)/2 pairs, ordered")
    assert(r.head.getAs[String]("group_a") == "a")
    assert(r.head.getAs[Long]("na") == 3L && r.head.getAs[Long]("nb") == 3L)
    assert(r.head.getAs[Double]("cohens_d") == -3.0)
  }

  test("qqTable: identical groups pair every decile with diff 0") {
    val df = (1 to 100).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
      .toDF("g", "v")
    val rows = Stats.qqTable(df, "g", "v", "a", "b").collect()
    assert(rows.length == 9)
    assert(rows.forall(_.getAs[Double]("diff") == 0.0))
    // median of 1..100 under linear interpolation
    assert(rows.find(_.getAs[Double]("p") == 0.5)
      .get.getAs[Double]("q_a") == 50.5)
  }

  test("qqTable: a constant shift appears as the same diff at every decile") {
    val df = (1 to 100).flatMap(i =>
      Seq(("a", i.toDouble + 7.0), ("b", i.toDouble))).toDF("g", "v")
    val rows = Stats.qqTable(df, "g", "v", "a", "b").collect()
    assert(rows.forall(_.getAs[Double]("diff") == 7.0))
  }

  test("groupMeanCI: hand-computed interval, degenerate singleton is null") {
    // [2,4,6,8]: mean 5, sd_samp 2.58199… rounds to 2.582 (the CI is
    // derived from the ROUNDED std so both oracle engines agree) →
    // 1.96·2.582/√4 = 2.53036 → [2.4696, 7.5304]
    val df = (Seq(2.0, 4.0, 6.0, 8.0).map(("a", _)) :+ (("b", 3.0)))
      .toDF("g", "v")
    val byG = Stats.groupMeanCI(df, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    val a = byG("a")
    assert(a.getAs[Long]("n") == 4L && a.getAs[Double]("mean") == 5.0)
    assert(math.abs(a.getAs[Double]("ci_lo") - 2.4696) < 1e-9)
    assert(math.abs(a.getAs[Double]("ci_hi") - 7.5304) < 1e-9)
    assert(byG("b").isNullAt(byG("b").fieldIndex("std")),
      "singleton group has no sample stddev, CI must be null not NaN")
  }

  test("jarqueBera: symmetric data has skew 0, hand kurtosis; constant is null") {
    // [-2,-1,0,1,2]: m2=2, m3=0, m4=6.8 → skew 0, kurt 1.7,
    // JB = 5/6 · (1.7-3)²/4 = 0.352083…
    val df = (Seq(-2.0, -1.0, 0.0, 1.0, 2.0).map(("sym", _)) ++
      Seq.fill(3)(("flat", 3.0))).toDF("g", "v")
    val rows = Stats.jarqueBera(df, "g", "v").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    val sym = rows("sym")
    assert(sym.getAs[Long]("n") == 5L)
    assert(sym.getAs[Double]("skewness") == 0.0)
    assert(sym.getAs[Double]("kurtosis") == 1.7)
    assert(sym.getAs[Double]("jb") == 0.3521)
    val flat = rows("flat")
    assert(flat.isNullAt(flat.fieldIndex("skewness")) &&
      flat.isNullAt(flat.fieldIndex("jb")),
      "zero-variance group must yield null, not NaN/Infinity")
  }

  test("bootstrapCI: constant column has a zero-width CI at the constant") {
    import spark.implicits._
    val df = (1L to 50L).map(i => ("g", i, 7.5)).toDF("g", "id", "x")
    val r = Stats.bootstrapCI(df, "g", "x", Seq("id"), reps = 50)
      .collect().head
    // any Poisson reweighting of identical values averages to the value
    assert(r.getAs[Double]("mean") == 7.5)
    assert(r.getAs[Double]("ci_lo") == 7.5 && r.getAs[Double]("ci_hi") == 7.5)
  }

  test("bootstrapCI: deterministic, ordered, and covering on real data") {
    val li = graft.Tables.lineitem(spark, sf)
    def run() = Stats.bootstrapCI(li, "l_returnflag", "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"), reps = 60)
      .collect().map(r => (r.getString(0), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    val a = run()
    assert(a.sameElements(run()), "hash-seeded weights must replay exactly")
    a.foreach { case (g, mean, lo, hi) =>
      assert(lo <= mean && mean <= hi,
        s"$g: CI [$lo,$hi] must cover the sample mean $mean")
      assert(hi - lo > 0.0, s"$g: CI must have positive width")
    }
  }

  test("permutationTest: identical groups accept H0, a gross shift rejects it") {
    import spark.implicits._
    val base = (1L to 40L).map(i => (i, if (i % 2 == 0) "A" else "B",
      (i % 7).toDouble))
    val same = base.toDF("id", "g", "x")
    val pSame = Stats.permutationTest(same, "g", "x", "A", "B", Seq("id"))
      .collect().head.getAs[Double]("p_value")
    assert(pSame > 0.05, s"no real effect must not reject: p=$pSame")
    val shifted = base.map { case (i, g, x) =>
      (i, g, if (g == "A") x + 1000.0 else x) }.toDF("id", "g", "x")
    val r = Stats.permutationTest(shifted, "g", "x", "A", "B", Seq("id"))
      .collect().head
    assert(r.getAs[Long]("n_a") == 20L && r.getAs[Long]("n_b") == 20L)
    assert(r.getAs[Double]("mean_diff") > 999.0)
    assert(r.getAs[Double]("p_value") <= 0.01,
      s"a 1000-sigma shift must reject: p=${r.getAs[Double]("p_value")}")
  }

  test("imputeByGroup fills with the group median, flags nulls, never invents values") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", None),
      ("b", None), ("b", None)) // all-null group: nothing to impute from
      .map { case (g, v) => (g, v.map(Double.box).orNull) }
      .toDF("g", "v").select(col("g"), col("v").cast("double"))
    val out = Stats.imputeByGroup(df, "g", "v").collect()
    val aFilled = out.filter(r => r.getString(0) == "a" && r.getBoolean(
      r.fieldIndex("was_null"))).map(_.getAs[Double]("v_filled"))
    assert(aFilled.toSeq == Seq(2.0), "null in group a fills with median 2.0")
    out.filter(_.getString(0) == "b").foreach { r =>
      assert(r.isNullAt(r.fieldIndex("v_filled")),
        "an all-null group must stay null, not invent a value")
      assert(r.getBoolean(r.fieldIndex("was_null")))
    }
    // non-null rows pass through unchanged
    out.filter(r => !r.getBoolean(r.fieldIndex("was_null"))).foreach { r =>
      assert(r.getAs[Double]("v_filled") == r.getAs[Double]("v"))
    }
  }

  test("mergeableMoments: any partial partitioning merges to the direct profile") {
    val events = graft.Tables.events(spark, sf)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3))
    val viaDays = Stats.mergeableMoments(events).collect().map(key).toSet
    // partials cut by a DIFFERENT partition scheme (user stripe, not
    // day) must merge to the identical profile — decimal sums make the
    // merge associative to the last bit
    val byStripe = events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), (col("user_id") % 7).as("__p"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).as("s1"),
        sum((col("value") * col("value")).cast("decimal(30,6)")).as("s2"))
    val viaStripes = Stats.mergeMomentPartials(byStripe, "event_type")
      .collect().map(key).toSet
    assert(viaDays == viaStripes,
      "merged profile must be partitioning-invariant")
    // and the single-level direct computation agrees (one trivial
    // "partition" containing everything)
    val direct = events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), lit(0).as("__p"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).as("s1"),
        sum((col("value") * col("value")).cast("decimal(30,6)")).as("s2"))
    assert(Stats.mergeMomentPartials(direct, "event_type")
      .collect().map(key).toSet == viaDays)
  }

  test("runsTest: alternating series scores +z, blocked series -z, hand-computed") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 ${i}%02d:30:00"),
        1L, "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // n1 = n2 = 3 → μ = 4, σ² = (μ−1)(μ−2)/5 = 1.2
    val alt = Stats.runsTest(mk(Seq(10, 0, 10, 0, 10, 0))).collect().head
    assert(alt.getAs[Long]("r") == 6 && alt.getAs[Double]("expected_r") == 4.0)
    assert(math.abs(alt.getAs[Double]("z") - 2.0 / math.sqrt(1.2)) < 5e-4)
    val blk = Stats.runsTest(mk(Seq(10, 10, 10, 0, 0, 0))).collect().head
    assert(blk.getAs[Long]("r") == 2)
    assert(math.abs(blk.getAs[Double]("z") + 2.0 / math.sqrt(1.2)) < 5e-4)
    // values AT the median drop (classic treatment): 10,5,0 → the 5 goes
    val tied = Stats.runsTest(mk(Seq(10, 5, 0, 10, 5, 0))).collect().head
    assert(tied.getAs[Long]("n1") + tied.getAs[Long]("n2") == 4)
  }

  test("oddsRatio: hand-computed 2x2; zero cells yield null, never infinity") {
    import spark.implicits._
    // a=20 b=10 c=5 d=15 → OR = 20·15/(10·5) = 6; RR = (20/30)/(5/20) = 8/3
    val rows = (Seq.fill(20)((true, true)) ++ Seq.fill(10)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(15)((false, false)))
      .toDF("e", "o")
    val r = Stats.oddsRatio(rows, col("e"), col("o")).collect().head
    assert((r.getAs[Long]("a"), r.getAs[Long]("b"),
      r.getAs[Long]("c"), r.getAs[Long]("d")) == ((20L, 10L, 5L, 15L)))
    assert(r.getAs[Double]("odds_ratio") == 6.0)
    assert(math.abs(r.getAs[Double]("relative_risk") - 2.6667) < 1e-9)
    val se = math.sqrt(1.0 / 20 + 1.0 / 10 + 1.0 / 5 + 1.0 / 15)
    assert(math.abs(r.getAs[Double]("or_lo") -
      math.exp(math.log(6.0) - 1.96 * se)) < 1e-3)
    assert(r.getAs[Double]("or_lo") < 6.0 && 6.0 < r.getAs[Double]("or_hi"))
    // a zero cell: estimates are null, the counts still report
    val zr = Stats.oddsRatio(
      Seq((true, true), (false, false)).toDF("e", "o"),
      col("e"), col("o")).collect().head
    assert(zr.isNullAt(zr.fieldIndex("odds_ratio")))
    assert(zr.getAs[Long]("a") == 1L && zr.getAs[Long]("d") == 1L)
  }

  test("mcnemar: only discordant pairs drive chi2, hand-computed") {
    import spark.implicits._
    // users: 3× click-only (b), 1× purchase-only (c), 2× both, 1× …
    // wait: both-flags users are concordant and must NOT move chi2
    val rows = Seq(
      (1L, "click"), (2L, "click"), (3L, "click"),          // b = 3
      (4L, "purchase"),                                     // c = 1
      (5L, "click"), (5L, "purchase"),                      // concordant
      (6L, "click"), (6L, "purchase")                       // concordant
    ).toDF("user_id", "event_type")
    val a = col("event_type") === "click"
    val b = col("event_type") === "purchase"
    val r = Stats.mcnemar(rows, a, b).collect().head
    assert(r.getAs[Long]("n_units") == 6)
    assert(r.getAs[Long]("b") == 3 && r.getAs[Long]("c") == 1)
    assert(r.getAs[Double]("chi2") == 1.0)     // (3−1)²/4
    assert(r.getAs[Double]("chi2_cc") == 0.25) // (|3−1|−1)²/4
    // adding concordant users must not change the statistic
    val more = rows.unionByName(
      Seq((7L, "click"), (7L, "purchase")).toDF("user_id", "event_type"))
    val r2 = Stats.mcnemar(more, a, b).collect().head
    assert(r2.getAs[Double]("chi2") == 1.0 &&
      r2.getAs[Long]("n_units") == 7)
    // all-concordant input: statistic undefined → NULL, never an error
    val conc = Seq((1L, "click"), (1L, "purchase"))
      .toDF("user_id", "event_type")
    val r3 = Stats.mcnemar(conc, a, b).collect().head
    assert(r3.isNullAt(r3.fieldIndex("chi2")))
  }

  test("wilcoxonSignedRank: hand-computed W+ and z, with and without ties") {
    import spark.implicits._
    def ev(user: Long, t: String, v: Double) = (user, t, v)
    // per-user d = click − view: d = [1, −2, 3, −4, 5]
    // |d| ranks 1..5 → W⁺ = 1+3+5 = 9; E = 7.5; Var = 5·6·11/24 = 13.75
    val rows = Seq(
      ev(1, "click", 11), ev(1, "view", 10),
      ev(2, "click", 8), ev(2, "view", 10),
      ev(3, "click", 13), ev(3, "view", 10),
      ev(4, "click", 6), ev(4, "view", 10),
      ev(5, "click", 15), ev(5, "view", 10),
      ev(6, "view", 99), // unpaired: dropped
      ev(7, "click", 4), ev(7, "view", 4) // zero d: dropped
    ).toDF("user_id", "event_type", "value")
    val r = Stats.wilcoxonSignedRank(rows).collect().head
    assert(r.getAs[Double]("w_plus") == 9.0)
    assert(r.getAs[Long]("n_pos") == 3 && r.getAs[Long]("n_neg") == 2)
    assert(math.abs(r.getAs[Double]("z") - (9.0 - 7.5) / math.sqrt(13.75))
      < 5e-5)
    // ties: d = [1, −1, 2] → |d| midranks (1.5, 1.5, 3), W⁺ = 4.5,
    // Var = 3·4·7/24 − (2³−2)/48 = 3.375
    val tied = Seq(
      ev(1, "click", 11), ev(1, "view", 10),
      ev(2, "click", 9), ev(2, "view", 10),
      ev(3, "click", 12), ev(3, "view", 10)
    ).toDF("user_id", "event_type", "value")
    val t = Stats.wilcoxonSignedRank(tied).collect().head
    assert(t.getAs[Double]("w_plus") == 4.5)
    assert(math.abs(t.getAs[Double]("z") - 1.5 / math.sqrt(3.375)) < 5e-5)
  }

  test("quantile partials: partition-invariant merge; estimates within one bin of exact") {
    val events = graft.Tables.events(spark, sf)
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val (lo, hi, nb) = (0.0, 500.0, 50)
    def key(r: org.apache.spark.sql.Row) = (r.getDouble(0), r.getDouble(1))
    val viaDays = Stats.mergeQuantilePartials(
      Stats.quantilePartials(events, "value", lo, hi, nb), lo, hi, nb, qs)
      .collect().map(key).toSet
    // partials cut by a different scheme (user stripe) merge identically
    // — bucket counts are integers, so the merge is exactly associative
    val byStripe = events.filter(col("value").isNotNull)
      .select((col("user_id") % 7).as("day"), // stands in for the partial key
        least(lit(nb - 1), greatest(lit(0),
          floor((col("value") - lo) / (hi - lo) * nb))).cast("int").as("bucket"))
      .groupBy("day", "bucket").agg(count(lit(1)).as("n"))
    val viaStripes = Stats.mergeQuantilePartials(byStripe, lo, hi, nb, qs)
      .collect().map(key).toSet
    assert(viaDays == viaStripes, "merge must be partitioning-invariant")
    // sketch error contract: every estimate within one bin width of the
    // exact interpolated quantile
    val binW = (hi - lo) / nb
    val exact = events.agg(
      expr(s"percentile(value, array(${qs.mkString(",")}))")).head()
      .getSeq[Double](0)
    val est = viaDays.toSeq.sortBy(_._1).map(_._2)
    qs.indices.foreach { i =>
      assert(math.abs(est(i) - exact(i)) <= binW,
        s"q=${qs(i)}: est ${est(i)} vs exact ${exact(i)} off by > $binW")
    }
  }

  test("logisticGD: descends on a separable concept, replays exactly, chance on noise") {
    val emb = graft.Tables.embeddings(spark, sf)
    val concept = element_at(col("embedding"), 1).cast("double") +
      element_at(col("embedding"), 2).cast("double") > 0
    // this SF's embeddings have a smaller feature scale than sf0.01's,
    // so the descent needs a hotter schedule to converge in-spec
    def run(iters: Int) =
      Stats.logisticGD(emb, concept, iters = iters, lr = 5.0).collect().head
    val r10 = run(10)
    assert(r10.getAs[Double]("accuracy") > 0.85,
      s"separable concept must train above chance: ${r10.getAs[Double]("accuracy")}")
    // more steps must not get worse on a separable target (monotone here)
    assert(r10.getAs[Double]("accuracy") >= run(5).getAs[Double]("accuracy"))
    // deterministic: no RNG, no partition-order dependence at 6dp
    assert(run(10) == r10, "fixed-iteration GD must replay exactly")
    // a target independent of the features stays at chance — the honest
    // negative control for the contract query's choice of concept
    val noise = Stats.logisticGD(emb, col("label") >= 5,
      iters = 10, lr = 5.0).collect().head
    assert(math.abs(noise.getAs[Double]("accuracy") - 0.5) < 0.2,
      s"random labels cannot be learned: ${noise.getAs[Double]("accuracy")}")
  }

  test("kruskalWallis matches the closed-form H; degenerate ties null out") {
    // A=[1,2,3] B=[4,5,6] C=[7,8,9]: rank sums 6/15/24, H = 7.2 exactly
    val df = (Seq(1.0, 2.0, 3.0).map(("A", _)) ++
      Seq(4.0, 5.0, 6.0).map(("B", _)) ++
      Seq(7.0, 8.0, 9.0).map(("C", _))).toDF("g", "v")
    val r = Stats.kruskalWallis(df, "g", "v").collect().head
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n") == 9L)
    assert(r.getAs[Double]("h") == 7.2)
    assert(r.getAs[Double]("h_adj") == 7.2, "no ties: correction is 1")
    // all-identical values: the tie correction denominator vanishes —
    // h_adj must be null, never a division error or ±Infinity
    val flat = Seq(("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 1.0))
      .toDF("g", "v")
    val fr = Stats.kruskalWallis(flat, "g", "v").collect().head
    assert(fr.isNullAt(fr.fieldIndex("h_adj")))
  }

  test("kendallTau: perfect concordance is +1, reversal is -1, ties discount") {
    def ev(rows: Seq[(Long, String, Double)]) =
      rows.toDF("hr", "event_type", "value")
        .select(timestamp_seconds(col("hr") * 3600).as("ts"),
          col("event_type"), col("value"))
    val up = (0L to 5L).flatMap(h =>
      Seq((h, "click", h + 1.0), (h, "view", 2.0 * h + 3.0)))
    assert(Stats.kendallTau(ev(up)).collect().head
      .getAs[Double]("tau_b") == 1.0)
    val down = (0L to 5L).flatMap(h =>
      Seq((h, "click", h + 1.0), (h, "view", 10.0 - h)))
    assert(Stats.kendallTau(ev(down)).collect().head
      .getAs[Double]("tau_b") == -1.0)
    // y constant on half the hours: tau_b magnitude drops below 1 but
    // the tie pairs are discounted, not counted against concordance
    val tied = (0L to 5L).flatMap(h =>
      Seq((h, "click", h + 1.0), (h, "view", math.max(3.0, h.toDouble))))
    val t = Stats.kendallTau(ev(tied)).collect().head.getAs[Double]("tau_b")
    assert(t > 0.5 && t < 1.0, s"tie-discounted tau out of range: $t")
  }

  test("ols2 recovers an exact planted plane with r2 = 1") {
    // y = 2 + 3·x1 − 1.5·x2 exactly (all inputs 2dp: decimal sums exact)
    val pts = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 2.0), (4.0, 3.0),
      (5.0, 5.0), (6.0, 8.0))
    val df = pts.map { case (x1, x2) =>
      (2.0 + 3.0 * x1 - 1.5 * x2, x1, x2) }.toDF("y", "x1", "x2")
    val r = Stats.ols2(df, "y", "x1", "x2").collect().head
    assert(r.getAs[Long]("n") == 6L)
    assert(math.abs(r.getAs[Double]("intercept") - 2.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("b1") - 3.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("b2") - -1.5) < 1e-6)
    assert(r.getAs[Double]("r2") == 1.0)
    // the single-regressor shortcut CANNOT recover these coefficients
    // (x1 and x2 correlate) — the partialling-out is what ols2 adds
    val naive = Stats.olsRegression(df.withColumn("g", lit("all")),
      "g", "x1", "y").collect().head
    assert(math.abs(naive.getAs[Double]("slope") - 3.0) > 0.1)
  }

  test("linCcc penalizes scale and shift that Pearson forgives; blandAltman bands") {
    import spark.implicits._
    def ev(f: Double => Double) = (0 until 48).flatMap { h =>
      val x = 10.0 + (h % 7)
      Seq((h.toLong * 3600L, "click", x), (h.toLong * 3600L, "view", f(x)))
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    def ccc(f: Double => Double) =
      Stats.linCcc(ev(f)).collect().head
    // identity: perfect agreement on both measures
    val id = ccc(x => x)
    assert(id.getAs[Double]("pearson") == 1.0 &&
      id.getAs[Double]("ccc") == 1.0)
    // 2x scale: Pearson stays 1, CCC drops — the agreement/correlation gap
    val scaled = ccc(x => 2 * x)
    assert(scaled.getAs[Double]("pearson") == 1.0)
    assert(scaled.getAs[Double]("ccc") < 0.5,
      s"scale disagreement must crush CCC: $scaled")
    // constant shift: same story
    val shifted = ccc(x => x + 5)
    assert(shifted.getAs[Double]("pearson") == 1.0 &&
      shifted.getAs[Double]("ccc") < 0.5)
    // Bland–Altman on the shift: bias exactly −5, zero spread
    val ba = Stats.blandAltman(ev(x => x + 5)).collect().head
    assert(ba.getAs[Double]("bias") == -5.0)
    assert(ba.getAs[Double]("sd_diff") == 0.0)
    assert(ba.getAs[Double]("loa_lower") == -5.0 &&
      ba.getAs[Double]("loa_upper") == -5.0)
  }

  test("overdispersion: constant daily counts score D=0, bursty days blow past 1") {
    import spark.implicits._
    def ev(counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (c, day) => (0 until c).map(i => (day + 1, "click", i.toDouble))
    }.toDF("d", "event_type", "value")
      .select(expr("make_timestamp(2024, 1, d, 0, 0, 0)").as("ts"),
        col("event_type"), col("value"))
    // identical counts every day: variance 0 → D = 0, z < 0
    val flat = Stats.overdispersion(ev(Seq.fill(10)(50))).collect().head
    assert(flat.getAs[Double]("dispersion") == 0.0 &&
      flat.getAs[Double]("z") < 0, s"$flat")
    // bursts: alternating 10/190 — far beyond Poisson noise
    val burst = Stats.overdispersion(
      ev(Seq.tabulate(10)(d => if (d % 2 == 0) 10 else 190)))
      .collect().head
    assert(burst.getAs[Double]("dispersion") > 50,
      s"clumped arrivals must blow past D=1: $burst")
    assert(burst.getAs[Double]("z") > 10)
  }

  test("captureRecapture: half-overlap windows recover the true population") {
    import spark.implicits._
    // population 200: window 1 sees 0..99, window 2 sees 50..149 —
    // Chapman: (101·101)/51 − 1 = 199.06…, true N = 200 (users 150..199
    // seen by NEITHER window still get counted by the estimator)
    val ev = ((0L until 100L).map(u => (u, 3L)) ++
      (50L until 150L).map(u => (u, 10L)))
      .toDF("user_id", "d")
      .select(col("user_id"),
        expr("make_timestamp(2024, 1, d, 0, 0, 0)").as("ts"))
    val r = Stats.captureRecapture(ev).collect().head
    assert(r.getAs[Long]("n1") == 100L && r.getAs[Long]("n2") == 100L &&
      r.getAs[Long]("m") == 50L, s"$r")
    assert(math.abs(r.getAs[Double]("n_estimate") - 200.0) < 2.0,
      s"Chapman must land on the true population: $r")
    assert(r.getAs[Long]("seen_total") == 150L)
  }

  test("hllIntersect: inclusion-exclusion estimate lands near the exact overlap") {
    import spark.implicits._
    // clickers 0..999, purchasers 500..1499 → exact overlap 500
    val ev = ((0L until 1000L).map(u => (u, "click", 1.0)) ++
      (500L until 1500L).map(u => (u, "purchase", 1.0)))
      .toDF("user_id", "event_type", "value")
    val r = Stats.hllIntersect(ev).collect().head
    assert(r.getAs[Long]("exact_intersection") == 500L, s"$r")
    assert(r.getAs[Double]("rel_err") < 0.1,
      s"inclusion-exclusion at rsd=0.02 must land within 10%: $r")
  }

  test("metaAnalysis: constant effect pools exactly, flip-flopping days blow up I2") {
    import spark.implicits._
    def ev(eff: Int => Double) = (0 until 10).flatMap { day =>
      (0 until 20).flatMap { i =>
        val noise = if (i % 2 == 0) 0.5 else -0.5
        Seq((day * 86400L + i * 60L, "click", 10.0 + eff(day) + noise),
          (day * 86400L + i * 60L, "view", 10.0 - noise))
      }
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    val const = Stats.metaAnalysis(ev(_ => 2.0)).collect().head
    assert(const.getAs[Long]("k") == 10)
    assert(const.getAs[Double]("pooled_effect") == 2.0, s"$const")
    assert(const.getAs[Double]("i2") == 0.0,
      s"identical strata must show zero heterogeneity: $const")
    val flip = Stats.metaAnalysis(
      ev(day => if (day % 2 == 0) 2.0 else -2.0)).collect().head
    assert(math.abs(flip.getAs[Double]("pooled_effect")) < 0.01)
    assert(flip.getAs[Double]("i2") > 0.8,
      s"day-flipping effect must scream heterogeneity: $flip")
  }

  test("cuped: correlated pre-period soaks up variance; independent covariate buys ~0") {
    import spark.implicits._
    val jan10 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val jan20 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    // user level u rides both periods; post adds only ±1 noise → the
    // covariate explains almost everything
    def ev(pre: Int => Double) = (1 to 50).flatMap { u =>
      Seq((u.toLong, jan10, "click", pre(u)),
        (u.toLong, jan20, "click", u * 10.0 + (if (u % 2 == 0) 1.0 else -1.0)))
    }.toDF("user_id", "ts", "event_type", "value")
    val strong = Stats.cuped(ev(u => u * 10.0)).collect().head
    assert(strong.getAs[Long]("n") == 50)
    assert(math.abs(strong.getAs[Double]("theta") - 1.0) < 0.01, s"$strong")
    assert(strong.getAs[Double]("var_reduction") > 0.99,
      s"a near-perfect covariate must soak the variance: $strong")
    // constant pre-period: var(x)=0 → theta null-guarded, no crash
    val flat = Stats.cuped(ev(_ => 7.0)).collect().head
    assert(flat.isNullAt(1), s"degenerate covariate must null out: $flat")
  }

  test("sprt: pure-success run stops at the 8th observation; balanced walk never stops") {
    import spark.implicits._
    def ev(xs: Seq[Int]) = xs.zipWithIndex.map { case (x, i) =>
      (i.toLong, i.toLong, "purchase", if (x == 1) 100.0 else 1.0)
    }.toDF("event_id", "s", "event_type", "value")
      .select(col("event_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    // every success adds ln(1.5) ≈ 0.405465 — ln(19) is crossed at n=8
    val up = Stats.sprt(ev(Seq.fill(20)(1))).collect().head
    assert(up.getAs[Long]("stop_n") == 8L &&
      up.getAs[String]("decision") == "accept_h1", s"$up")
    val down = Stats.sprt(ev(Seq.fill(20)(0))).collect().head
    assert(down.getAs[Long]("stop_n") == 8L &&
      down.getAs[String]("decision") == "accept_h0", s"$down")
    // strict alternation: each pair sums to ln(1.5)+ln(2/3) = 0 — the
    // walk is bounded by one step and can never reach either boundary
    val cont = Stats.sprt(ev(Seq.tabulate(40)(_ % 2))).collect().head
    assert(cont.getAs[String]("decision") == "continue" &&
      cont.isNullAt(1), s"$cont")
    assert(cont.getAs[Long]("n_total") == 40L)
  }

  test("ridgePath: orthogonal shrinks as r/(1+lambda); collinear pair pools weight") {
    import spark.implicits._
    // near-orthogonal regressors: each standardized coefficient must
    // shrink by exactly 1/(1+λ) (up to the tiny r12)
    val ortho = (0 until 500).map { i =>
      val (x1, x2) = (math.sin(i * 0.9), math.cos(i * 0.9))
      (x1 + 2 * x2, x1, x2)
    }.toDF("l_extendedprice", "l_quantity", "l_discount")
    val o = Stats.ridgePath(ortho, "l_extendedprice", "l_quantity",
      "l_discount").collect()
      .map(r => r.getAs[Double]("lambda") ->
        ((r.getAs[Double]("b1_std"), r.getAs[Double]("b2_std")))).toMap
    val (b10, b20) = o(0.0)
    o.foreach { case (l, (b1, b2)) =>
      assert(math.abs(b1 - b10 / (1 + l)) < 0.02 &&
        math.abs(b2 - b20 / (1 + l)) < 0.02, s"λ=$l: ($b1,$b2)")
    }
    // collinear pair: OLS splits arbitrarily large/oppositely; ridge
    // pulls both toward the shared value — the gap must shrink with λ
    val coll = (0 until 500).map { i =>
      val x1 = math.sin(i * 0.9)
      val x2 = x1 + 0.05 * math.sin(i * 1.7)
      (x1, x1, x2)
    }.toDF("l_extendedprice", "l_quantity", "l_discount")
    val c = Stats.ridgePath(coll, "l_extendedprice", "l_quantity",
      "l_discount").collect()
      .map(r => r.getAs[Double]("lambda") ->
        math.abs(r.getAs[Double]("b1_std") - r.getAs[Double]("b2_std")))
      .toMap
    assert(c(0.0) > c(0.5) && c(0.5) > c(5.0),
      s"ridge must pool collinear weight monotonically: $c")
  }

  test("boxCoxScan: lognormal picks lambda 0; argmax is exactly scale-invariant") {
    import spark.implicits._
    // quasi-random z in [-3,3] (irrational-stride sine), y = exp(z):
    // textbook lognormal — the profile likelihood must pick the log
    def ev(c: Double) = (0 until 500).map { i =>
      (i.toLong, "click", c * math.exp(3.0 * math.sin(i * 2.39996)))
    }.toDF("event_id", "event_type", "value")
    val base = Stats.boxCoxScan(ev(1.0)).collect()
    assert(base.length == 6 && base.count(_.getAs[Boolean]("best")) == 1)
    val best = base.filter(_.getAs[Boolean]("best")).head
    assert(best.getAs[Double]("lambda") == 0.0,
      s"lognormal must pick the log transform: ${base.toSeq}")
    // scaling y by c shifts EVERY ll by exactly -n ln c — the argmax
    // cannot move (the Jacobian term absorbs the scale)
    val scaled = Stats.boxCoxScan(ev(7.0)).collect()
    assert(scaled.filter(_.getAs[Boolean]("best")).head
      .getAs[Double]("lambda") == 0.0)
    val shift = 500.0 * math.log(7.0)
    base.zip(scaled).foreach { case (b, s) =>
      assert(math.abs((b.getAs[Double]("ll") - s.getAs[Double]("ll")) -
        shift) < 0.1, s"ll must shift by n·ln c uniformly: $b vs $s")
    }
  }

  test("partialCorr strips the confounder; independent control leaves r alone") {
    import spark.implicits._
    // z drives BOTH x and y; the only x↔y link IS z. Deterministic
    // "noise": two incommensurate sinusoids, so x and y are
    // conditionally independent given z.
    def ev(couple: Boolean) = (0 until 200).flatMap { h =>
      val z = math.sin(h * 0.37) * 4.0
      val n1 = math.sin(h * 1.13 + 0.5)
      val n2 = math.sin(h * 2.71 + 1.1)
      val zc = if (couple) z else 0.0
      Seq((h.toLong * 3600L, "click", 10.0 + zc + n1),
        (h.toLong * 3600L, "view", 20.0 + zc + n2),
        (h.toLong * 3600L, "purchase", 5.0 + z))
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    val coupled = Stats.partialCorr(ev(couple = true)).collect().head
    assert(coupled.getAs[Double]("rxy") > 0.8,
      s"the confounder must manufacture raw correlation: $coupled")
    assert(math.abs(coupled.getAs[Double]("partial_r")) < 0.2,
      s"controlling for z must strip it: $coupled")
    // x,y independent of z: partialling out z changes nothing much
    val indep = Stats.partialCorr(ev(couple = false)).collect().head
    assert(math.abs(indep.getAs[Double]("rxy") -
      indep.getAs[Double]("partial_r")) < 0.1, s"$indep")
  }

  test("pairedTTest cancels the shared hour effect; constant shift gives huge |t|") {
    import spark.implicits._
    // hour effect h%7 rides BOTH series; view = click − 2 + tiny noise
    // that alternates ±0.1 — an unpaired test drowns the −2 in the
    // hour-to-hour variance, the paired test sees d = 2 ± 0.1
    val rows = (0 until 40).flatMap { h =>
      val base = 10.0 + (h % 7)
      Seq((h.toLong * 3600L, "click", base),
        (h.toLong * 3600L, "view", base - 2.0 + (if (h % 2 == 0) 0.1 else -0.1)))
    }
    val ev = rows.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    val r = Stats.pairedTTest(ev).collect().head
    assert(r.getAs[Long]("n") == 40 && r.getAs[Long]("df") == 39)
    assert(r.getAs[Double]("mean_diff") == 2.0)
    assert(r.getAs[Double]("t") > 50,
      s"paired t must expose the constant 2.0 gap: $r")
    // identical series: zero spread of differences → t is null-guarded
    val same = (0 until 10).flatMap { h =>
      Seq((h.toLong * 3600L, "click", 5.0), (h.toLong * 3600L, "view", 5.0))
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    assert(Stats.pairedTTest(same).collect().head.isNullAt(3))
  }

  test("mahalanobis charges the off-ridge point per-axis z-scores miss; affine-invariant") {
    import spark.implicits._
    // 40 users on the ridge y≈x (counts 1..40, value≈count/10) plus
    // one user with a MIDDLING count but a value from the wrong end of
    // the ridge — unremarkable on each axis, far off the correlation.
    def ev(scale: Double) = (1 to 40).flatMap { u =>
      (1 to u).map(i => (u.toLong, scale * u / 10.0))
    } ++ (1 to 20).map(_ => (99L, scale * 4.0 / 10.0 * 10.0)) match {
      case rows => rows.toDF("user_id", "value")
    }
    val out = Stats.mahalanobisOutliers(ev(1.0), topK = 3).collect()
    assert(out.head.getAs[Long]("user_id") == 99L,
      s"off-ridge user must score highest: ${out.toSeq}")
    // affine invariance: rescaling the value axis 10x moves nobody
    val scaled = Stats.mahalanobisOutliers(ev(10.0), topK = 3).collect()
    assert(out.map(_.getAs[Long]("user_id")).toSeq ==
      scaled.map(_.getAs[Long]("user_id")).toSeq)
    assert(out.map(_.getAs[Double]("d2")).zip(
      scaled.map(_.getAs[Double]("d2")))
      .forall { case (a, b) => math.abs(a - b) < 1e-2 },
      "Mahalanobis d2 must be invariant under per-axis rescaling")
  }

  test("cohensKappa: perfect diag = 1, marginal-chance = 0, skew exposes accuracy") {
    def k(cells: Seq[(String, String, Long)]) =
      Stats.cohensKappa(cells.toDF("t", "p", "n"), "t", "p", "n")
        .collect().head
    // perfect agreement
    val perfect = k(Seq(("a", "a", 30L), ("b", "b", 70L)))
    assert(perfect.getAs[Double]("po") == 1.0 &&
      perfect.getAs[Double]("kappa") == 1.0)
    // independence: po exactly equals pe → kappa exactly 0
    // marginals 50/50 both sides, cells all 25
    val indep = k(Seq(("a", "a", 25L), ("a", "b", 25L),
      ("b", "a", 25L), ("b", "b", 25L)))
    assert(indep.getAs[Double]("kappa") == 0.0)
    // the always-majority classifier: 90% accuracy, kappa 0 — the
    // skew case raw accuracy flatters and kappa exposes
    val lazyC = k(Seq(("a", "a", 90L), ("b", "a", 10L)))
    assert(lazyC.getAs[Double]("po") == 0.9)
    assert(lazyC.getAs[Double]("kappa") == 0.0)
    // single-class-everywhere: pe = 1 → null, never a division error
    val degen = k(Seq(("a", "a", 10L)))
    assert(degen.isNullAt(degen.fieldIndex("kappa")))
  }

  test("classifierReport: hand-computed per-class P/R/F1; missing class handled") {
    // confusion: a→a 8, a→b 2, b→b 5, b→a 5, c never predicted (c→a 4)
    val cm = Seq(("a", "a", 8L), ("a", "b", 2L), ("b", "b", 5L),
      ("b", "a", 5L), ("c", "a", 4L)).toDF("t", "p", "n")
    val out = Stats.classifierReport(cm, "t", "p", "n").collect()
      .map(r => r.getAs[String]("cls") -> r).toMap
    // a: tp=8, support=10, predicted=17 → P=8/17, R=0.8, F1=16/27
    assert(out("a").getAs[Long]("tp") == 8L)
    assert(math.abs(out("a").getAs[Double]("precision") - 8.0 / 17) < 1e-6)
    assert(out("a").getAs[Double]("recall") == 0.8)
    assert(math.abs(out("a").getAs[Double]("f1") - 16.0 / 27) < 1e-6)
    // c: predicted by nobody → precision null, recall 0, f1 0
    assert(out("c").isNullAt(out("c").fieldIndex("precision")))
    assert(out("c").getAs[Double]("recall") == 0.0)
    assert(out("c").getAs[Double]("f1") == 0.0)
    // accuracy rides every row: 13/24
    assert(out.values.forall(r =>
      math.abs(r.getAs[Double]("accuracy") - 13.0 / 24) < 1e-6))
  }

  test("calibrationReport: a perfectly calibrated score has ECE 0; Brier ranks") {
    // 100 rows at score 0.2 with 20 positives, 100 at 0.8 with 80:
    // per-bin frac_pos == mean_score exactly → ECE 0; Brier = 0.16
    val rows = (0 until 100).map(i => (0.2, if (i < 20) 1 else 0)) ++
      (0 until 100).map(i => (0.8, if (i < 80) 1 else 0))
    val df = rows.toDF("s", "y")
    val out = Stats.calibrationReport(df, col("s"), col("y")).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Double]("mean_score") == r.getAs[Double]("frac_pos"))
      assert(r.getAs[Double]("ece") == 0.0)
      assert(math.abs(r.getAs[Double]("brier") - 0.16) < 1e-6)
    }
    // same outcomes under a miscalibrated (flipped) score: ECE large,
    // Brier strictly worse — the proper-scoring-rule ordering
    val flipped = Stats.calibrationReport(df,
      lit(1.0) - col("s"), col("y")).collect()
    assert(flipped.head.getAs[Double]("ece") > 0.5)
    assert(flipped.head.getAs[Double]("brier") > 0.5)
  }

  test("tostEquivalence: tight groups prove equivalence, a real gap does not") {
    def run(shift: Double, margin: Double) = {
      val df = ((1 to 200).map(i => ("A", (i % 10).toDouble)) ++
        (1 to 200).map(i => ("B", (i % 10) + shift))).toDF("g", "v")
      Stats.tostEquivalence(df, "g", "v", "A", "B", margin).collect().head
    }
    // identical distributions, generous margin: both one-sided tests clear
    val eq = run(0.0, 2.0)
    assert(eq.getAs[Boolean]("equivalent"), s"same dist must prove equal: $eq")
    assert(eq.getAs[Double]("diff") == 0.0)
    // a 3-unit real shift against a 2-unit margin: NOT equivalent —
    // and note a plain t-test would ALSO reject "same", showing why
    // non-rejection was never the right evidence direction
    val gap = run(3.0, 2.0)
    assert(!gap.getAs[Boolean]("equivalent"))
    assert(gap.getAs[Double]("diff") == -3.0)
    assert(gap.getAs[Double]("t_lower") < 0,
      "the margin side the true diff violates must fail hard")
  }

  test("averagePrecision: perfect ranking 1.0, inverted ranking = base-rate tail") {
    def ap(rows: Seq[(String, Double)]) =
      Stats.averagePrecision(rows.toDF("g", "v"), "g", "v", "pos")
        .collect().head
    // positives hold the 2 highest scores: AP = 1
    val perfect = ap(Seq(("pos", 10.0), ("pos", 9.0), ("neg", 2.0),
      ("neg", 1.0)))
    assert(perfect.getAs[Long]("n_pos") == 2L)
    assert(perfect.getAs[Double]("average_precision") == 1.0)
    // positives at the bottom: AP = (1/2)(1/3) + (1/2)(2/4) = 0.416667
    val inverted = ap(Seq(("neg", 10.0), ("neg", 9.0), ("pos", 2.0),
      ("pos", 1.0)))
    assert(inverted.getAs[Double]("average_precision") == 0.416667)
    // all ties advance together: one threshold, precision = base rate
    val tied = ap(Seq(("pos", 5.0), ("neg", 5.0), ("neg", 5.0),
      ("neg", 5.0)))
    assert(tied.getAs[Double]("average_precision") == 0.25)
  }

  test("welchBatteryBH: step-up adjustment is monotone and correctly bounded") {
    // three groups: A ≈ B (no effect), C far away (strong effect on
    // both its pairs) — BH must keep the strong pairs and not the null
    val df = ((1 to 50).map(i => ("A", i % 7 + 0.0)) ++
      (1 to 50).map(i => ("B", (i + 3) % 7 + 0.1)) ++
      (1 to 50).map(i => ("C", i % 7 + 50.0))).toDF("g", "v")
    val out = Stats.welchBatteryBH(df, "g", "v").collect()
      .map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) ->
        (r.getAs[Double]("p"), r.getAs[Double]("p_adj"),
          r.getAs[Boolean]("significant"))).toMap
    assert(out.size == 3)
    assert(out(("A", "C"))._3 && out(("B", "C"))._3,
      "a 50-unit shift must survive FDR correction")
    assert(!out(("A", "B"))._3,
      s"near-identical groups must not be discovered: ${out(("A", "B"))}")
    // adjusted p never below raw p, never above 1
    out.values.foreach { case (p, padj, _) =>
      assert(padj >= p - 1e-9 && padj <= 1.0) }
    // the step-up min makes p_adj monotone in p-rank
    val sorted = out.values.toSeq.sortBy(_._1)
    assert(sorted.map(_._2) == sorted.map(_._2).sorted,
      "p_adj must be non-decreasing in raw-p order")
  }

  test("theilIndex: additive decomposition, zero within equal groups") {
    // A = four 1s (perfectly equal), B = two 2s (equal): all inequality
    // is BETWEEN groups. T_total = 4ln2/8 − ln(8/6) = 0.058892
    val df = (Seq.fill(4)(("A", 1.0)) ++ Seq.fill(2)(("B", 2.0)))
      .toDF("g", "v")
    val r = Stats.theilIndex(df, "g", "v").collect().head
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[Double]("theil_within") == 0.0,
      "equal values inside every group: within-term exactly 0")
    assert(r.getAs[Double]("theil_total") == 0.058892)
    assert(r.getAs[Double]("theil_between") == 0.058892,
      "additivity: total = between when within is 0")
    // a perfectly equal corpus scores 0 everywhere
    val flat = Seq.fill(5)(("A", 3.0)).toDF("g", "v")
      .union(Seq.fill(5)(("B", 3.0)).toDF("g", "v"))
    val fr = Stats.theilIndex(flat, "g", "v").collect().head
    assert(fr.getAs[Double]("theil_total") == 0.0 &&
      fr.getAs[Double]("theil_between") == 0.0)
  }

  test("cochranQ matches the closed form; uniform outcomes null out") {
    // blocks (1,1,0),(1,1,0),(1,1,1),(1,0,0): C=(4,3,1), N=8,
    // Q = 6·[(4/3)²+(1/3)²+(5/3)²]/(24−18) = 42/9 = 4.6667
    def ev(rows: Seq[(Long, String, Double)]) =
      rows.toDF("user_id", "event_type", "value")
    val hi = 80.0; val lo = 10.0
    def block(u: Long, f: (Int, Int, Int)) = Seq(
      (u, "click", if (f._1 == 1) hi else lo),
      (u, "view", if (f._2 == 1) hi else lo),
      (u, "purchase", if (f._3 == 1) hi else lo))
    val df = ev(block(1, (1, 1, 0)) ++ block(2, (1, 1, 0)) ++
      block(3, (1, 1, 1)) ++ block(4, (1, 0, 0)))
    val r = Stats.cochranQ(df).collect().head
    assert(r.getAs[Long]("n_users") == 4L)
    assert((r.getAs[Long]("c1"), r.getAs[Long]("c2"),
      r.getAs[Long]("c3")) == (4L, 3L, 1L))
    assert(r.getAs[Double]("q_stat") == 4.6667)
    // every user converts everywhere: k·ΣR = ΣR² → denominator zero →
    // null (no discordance to test), never an error
    val flat = ev(block(1, (1, 1, 1)) ++ block(2, (1, 1, 1)))
    val fr = Stats.cochranQ(flat).collect().head
    assert(fr.isNullAt(fr.fieldIndex("q_stat")))
    // a user missing a treatment entirely scores 0 there (classic
    // all-blocks convention), not a dropped block
    val partial = ev(block(1, (1, 1, 0)) ++
      Seq((2L, "click", hi))) // user 2 has click only
    assert(Stats.cochranQ(partial).collect().head
      .getAs[Long]("n_users") == 2L)
  }

  test("propTest matches the closed-form z; empty group nulls out") {
    // A: 8/10 successes, B: 4/10 → pool .6, se = √(.6·.4·.2) = .219089,
    // z = .4/.219089 = 1.8257
    val df = ((1 to 8).map(_ => ("A", true)) ++ (1 to 2).map(_ => ("A", false)) ++
      (1 to 4).map(_ => ("B", true)) ++ (1 to 6).map(_ => ("B", false)))
      .toDF("g", "ok")
    val r = Stats.propTest(df, "g", col("ok"), "A", "B").collect().head
    assert(r.getAs[Long]("x1") == 8L && r.getAs[Long]("n1") == 10L)
    assert(r.getAs[Double]("p1") == 0.8 && r.getAs[Double]("p2") == 0.4)
    assert(r.getAs[Double]("z") == 1.8257)
    // group B absent entirely: rates and z must be null, not an error
    val solo = (1 to 4).map(_ => ("A", true)).toDF("g", "ok")
    val sr = Stats.propTest(solo, "g", col("ok"), "A", "B").collect().head
    assert(sr.isNullAt(sr.fieldIndex("z")))
  }

  test("cliffsDelta: ±1 on complete separation, 0 on identical groups") {
    def d(a: Seq[Double], b: Seq[Double]) =
      Stats.cliffsDelta((a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "v"),
        "g", "v", "A", "B").collect().head.getAs[Double]("cliffs_delta")
    assert(d(Seq(4.0, 5.0, 6.0), Seq(1.0, 2.0, 3.0)) == 1.0)
    assert(d(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)) == -1.0)
    assert(d(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)) == 0.0,
      "identical distributions are stochastically equal")
    // hand count: pairs A×B over A=[1,3], B=[2,2]: a>b once, a<b once
    assert(d(Seq(1.0, 3.0), Seq(2.0, 2.0)) == 0.0)
  }

  test("friedman: strict per-block ordering gives chi2 = 2n; full ties null out") {
    def ev(rows: Seq[(Long, String, Double)]) =
      rows.toDF("user_id", "event_type", "value")
    // every user ranks click < view < purchase → rank sums n,2n,3n →
    // χ²_F = 2n exactly; no ties → correction is 1
    val strict = (1L to 4L).flatMap(u => Seq(
      (u, "click", 1.0 + u), (u, "view", 10.0 + u), (u, "purchase", 20.0 + u)))
    val r = Stats.friedman(ev(strict)).collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("chi2") == 8.0)
    assert(r.getAs[Double]("chi2_adj") == 8.0)
    // users missing a condition must DROP (complete-block design), not
    // skew the rank sums
    val incomplete = strict ++ Seq((9L, "click", 5.0), (9L, "view", 6.0))
    assert(Stats.friedman(ev(incomplete)).collect().head
      .getAs[Long]("n") == 4L)
    // all three conditions identical in every block: chi2 = 0 and the
    // tie-correction denominator vanishes → chi2_adj null, not an error
    val flat = (1L to 3L).flatMap(u => Seq(
      (u, "click", 7.0), (u, "view", 7.0), (u, "purchase", 7.0)))
    val fr = Stats.friedman(ev(flat)).collect().head
    assert(fr.getAs[Double]("chi2") == 0.0)
    assert(fr.isNullAt(fr.fieldIndex("chi2_adj")))
  }

  test("kaplanMeier: hand-checked risk table with censoring") {
    // gmax = day 100. u1: span 0d, quiet 20d → event at t=0
    // u2: span 5d, quiet 15d → event at t=5; u3: span 5d, active → censored
    // u4: span 10d, quiet 1d → censored at t=10
    val day = 86400L
    val ev = Seq(
      (1L, 80L * day), (1L, 80L * day), // u1 span 0, last day 80
      (2L, 80L * day), (2L, 85L * day), // u2 span 5, last day 85
      (3L, 95L * day), (3L, 100L * day), // u3 span 5, active at edge
      (4L, 89L * day), (4L, 99L * day)) // u4 span 10, quiet only 1d
      .toDF("user_id", "sec")
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"))
    val km = Stats.kaplanMeier(ev).collect()
      .sortBy(_.getAs[Long]("dur_days"))
    assert(km.map(_.getAs[Long]("dur_days")).toSeq == Seq(0L, 5L, 10L))
    assert(km.map(_.getAs[Long]("n_risk")).toSeq == Seq(4L, 3L, 1L))
    assert(km.map(_.getAs[Double]("survival")).toSeq == Seq(0.75, 0.5, 0.5),
      "S drops only at event times; censoring thins the risk set silently")
  }

  test("welchBatteryHolm: step-down is monotone and at least as strict as BH") {
    // three groups: two identical, one far away — the far pairs must
    // survive Holm, the identical pair must not
    val rows = (1 to 300).map { i =>
      val g = i % 3 match { case 0 => "a"; case 1 => "b"; case _ => "c" }
      val v = (i % 7).toDouble + (if (g == "c") 100.0 else 0.0)
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val holm = Stats.welchBatteryHolm(df, "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("p_adj"), r.getAs[Boolean]("significant"))).toMap
    assert(holm(("a", "c"))._2 && holm(("b", "c"))._2)
    assert(!holm(("a", "b"))._2)
    // Holm (FWER) can never be more permissive than BH (FDR)
    val bh = Stats.welchBatteryBH(df, "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("p_adj")).toMap
    holm.foreach { case (k, (pAdj, _)) =>
      assert(pAdj >= bh(k) - 1e-9, s"Holm below BH at $k") }
  }

  test("powerAnalysis: reports rates per md5 arm; degenerate delta is null") {
    def ev(rows: Seq[(Long, String, Double)]) = rows.zipWithIndex
      .map { case ((u, t, v), i) => (i.toLong, u, t, v) }
      .toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("event_id")))
    // users 1..200, even users convert (high-value purchase)
    val mixed = ev((1L to 200L).map(u =>
      (u, "purchase", if (u % 2 == 0) 99.0 else 10.0)))
    val r = Stats.powerAnalysis(mixed).collect().head
    val (na, nb) = (r.getAs[Long]("na"), r.getAs[Long]("nb"))
    assert(na + nb == 200L)
    val nReq = r.getAs[Long]("n_required_per_arm")
    assert(nReq > 0)
    assert(r.getAs[Boolean]("powered") == (math.min(na, nb) >= nReq))
    // both arms at rate 1.0: δ = 0 and p(1−p) = 0 → nulls, not a crash
    val flat = ev((1L to 50L).map(u => (u, "purchase", 99.0)))
    val f = Stats.powerAnalysis(flat).collect().head
    assert(f.getAs[Double]("delta") == 0.0)
    assert(f.isNullAt(f.fieldIndex("n_required_per_arm")))
  }

  test("rocLadder: a perfect score sweeps TPR 1/FPR 0; best threshold separates") {
    // positives score 0.9, negatives 0.1 → any threshold in (0.1, 0.9]
    // is perfect; Youden J = 1 there, and at t=0.1 FPR snaps to 1
    val rows = (0 until 50).map(i => (0.9, 1)) ++
      (0 until 50).map(i => (0.1, 0))
    val df = rows.toDF("s", "y")
    val out = Stats.rocLadder(df, col("s"), col("y")).collect()
      .map(r => r.getAs[Double]("threshold") -> r).toMap
    assert(out.size == 9)
    assert(out(0.5).getAs[Double]("tpr") == 1.0 &&
      out(0.5).getAs[Double]("fpr") == 0.0 &&
      out(0.5).getAs[Double]("youden_j") == 1.0)
    assert(out(0.1).getAs[Double]("fpr") == 1.0)
    // the flagged best is a J=1 threshold; exactly one row is flagged
    val best = out.values.filter(_.getAs[Boolean]("is_best")).toSeq
    assert(best.size == 1 && best.head.getAs[Double]("youden_j") == 1.0)
    // confusion identity holds on every row
    out.values.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") +
        r.getAs[Long]("fn") + r.getAs[Long]("tn") == 100L)
    }
  }

  test("ancovaAdjustedMeans: covariate mix confound removed exactly") {
    // both groups follow value = 2·hour + group_effect; group a samples
    // early hours, b late — raw means differ by mix + effect, adjusted
    // means isolate the true per-group effect (a: +10, b: +4)
    def ev(rows: Seq[(String, Int, Double)]) = rows.zipWithIndex.map {
      case ((t, h, v), i) => (i.toLong, h * 3600L, t, v)
    }.toDF("user_id", "s", "event_type", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    val rows = (0 until 8).map(h => ("a", h, 2.0 * h + 10)) ++
      (16 until 24).map(h => ("b", h, 2.0 * h + 4))
    val out = Stats.ancovaAdjustedMeans(ev(rows)).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val (a, b) = (out("a"), out("b"))
    // raw means: a = 2·3.5+10 = 17, b = 2·19.5+4 = 43 — b looks better
    assert(a.getAs[Double]("raw_mean") == 17.0 &&
      b.getAs[Double]("raw_mean") == 43.0)
    assert(a.getAs[Double]("common_slope_per_hour") == 2.0)
    // adjusted to the grand mean hour (11.5): a = 17+2·8 = 33,
    // b = 43−2·8 = 27 — the true effect order flips
    assert(a.getAs[Double]("adjusted_mean") == 33.0 &&
      b.getAs[Double]("adjusted_mean") == 27.0, s"$a / $b")
    assert(a.getAs[Double]("adjusted_mean") -
      b.getAs[Double]("adjusted_mean") == 6.0,
      "adjusted gap equals the planted effect difference")
  }

  test("cochranArmitage: rising trend is loud, perfectly flat rate is exactly 0") {
    // user u emits nEv events; converters get one high-value purchase
    def ev(users: Seq[(Long, Int, Boolean)]) = users.flatMap {
      case (u, nEv, conv) => (1 to nEv).map { i =>
        val purchase = conv && i == 1
        (u, u * 1000 + i, if (purchase) "purchase" else "click",
          if (purchase) 99.0 else 1.0)
      }
    }.toDF("user_id", "s", "event_type", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    // band 0 (5 events): 2/20 convert; band 3 (60 events): 18/20
    val rising = Stats.cochranArmitage(ev(
      (1L to 20L).map(u => (u, 5, u <= 2)) ++
        (21L to 40L).map(u => (u, 60, u <= 38)))).collect().head
    assert(rising.getAs[Long]("n_users") == 40L &&
      rising.getAs[Long]("n_bands") == 2L)
    assert(rising.getAs[Double]("z") > 4.0, s"$rising")
    // identical 50% rate in both bands: T = 0 exactly
    val flat = Stats.cochranArmitage(ev(
      (1L to 20L).map(u => (u, 5, u <= 10)) ++
        (21L to 40L).map(u => (u, 60, u <= 30)))).collect().head
    assert(flat.getAs[Double]("z") == 0.0, s"$flat")
  }

  test("signTest: hand counts and z; exact ties drop but are reported") {
    // 15 hours click > view, 5 reversed, 4 exactly tied
    val rows = (1 to 24).flatMap { h =>
      val (cv, vv) =
        if (h <= 15) (10.0, 5.0)
        else if (h <= 20) (5.0, 10.0)
        else (7.0, 7.0)
      Seq((1L, h * 3600L, "click", cv), (2L, h * 3600L, "view", vv))
    }.toDF("user_id", "s", "event_type", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    val r = Stats.signTest(rows).collect().head
    assert(r.getAs[Long]("n_pos") == 15L && r.getAs[Long]("n_neg") == 5L
      && r.getAs[Long]("n_ties") == 4L)
    assert(r.getAs[Double]("z") ==
      BigDecimal(10.0 / math.sqrt(20.0)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("energyDistance: identical hourly multisets score 0; a pure shift scores 2d") {
    def ev(rows: Seq[(Long, String, Double)]) = rows.zipWithIndex.map {
      case ((h, t, v), i) => (i.toLong, h * 3600L, t, v)
    }.toDF("user_id", "s", "event_type", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    val hs = (1L to 20L)
    val same = Stats.energyDistance(ev(
      hs.map(h => (h, "click", (h % 5).toDouble)) ++
        hs.map(h => (h, "view", (h % 5).toDouble))))
      .collect().head
    assert(same.getAs[Double]("energy_dist") == 0.0)
    // click ≡ 1.0, view ≡ 4.0: E = 2·3 − 0 − 0 = 6
    val shifted = Stats.energyDistance(ev(
      hs.map(h => (h, "click", 1.0)) ++ hs.map(h => (h, "view", 4.0))))
      .collect().head
    assert(shifted.getAs[Double]("energy_dist") == 6.0)
  }

  test("circularTime: phase-locked events score resultant 1; quadrants cancel") {
    def ev(hours: Seq[Int], t: String = "click") = hours.zipWithIndex.map {
      case (h, i) => (i.toLong, h * 3600L, t, 1.0)
    }.toDF("user_id", "s", "event_type", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    val locked = Stats.circularTime(ev(Seq.fill(10)(6))).collect().head
    assert(locked.getAs[Double]("mean_hour") == 6.0 &&
      locked.getAs[Double]("resultant") == 1.0)
    // one event in each quadrant: vectors cancel exactly
    val uniform = Stats.circularTime(ev(Seq(0, 6, 12, 18))).collect().head
    assert(uniform.getAs[Double]("resultant") == 0.0)
    // 23:00 + 01:00 average to midnight circularly (never 12:00)
    val wrap = Stats.circularTime(ev(Seq(23, 1))).collect().head
    val mh = wrap.getAs[Double]("mean_hour")
    assert(math.min(mh, 24.0 - mh) < 0.01, s"circular mean: $mh")
    assert(wrap.getAs[Double]("resultant") > 0.96)
  }

  test("distanceCorrelation: linear is ~1; V-shape is loud where Pearson is blind") {
    def ev(f: Int => Double) = (1 to 41).flatMap { h =>
      Seq((1L, h * 3600L, "click", h.toDouble),
        (2L, h * 3600L, "view", f(h)))
    }.toDF("user_id", "s", "event_type", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    val lin = Stats.distanceCorrelation(ev(h => 2.0 * h + 3))
      .collect().head
    assert(lin.getAs[Long]("n_hours") == 41L)
    assert(lin.getAs[Double]("dcor") > 0.9999, s"$lin")
    // y = |x − 21|: symmetric V — Pearson sees nothing, dCor does
    val vshape = ev(h => math.abs(h - 21.0))
    val d = Stats.distanceCorrelation(vshape).collect()
      .head.getAs[Double]("dcor")
    val pearson = Stats.linCcc(vshape).collect()
      .head.getAs[Double]("pearson")
    assert(math.abs(pearson) < 0.05, s"V-shape Pearson ~0: $pearson")
    assert(d > 0.3, s"V-shape dCor must be loud: $d")
  }

  test("mccMulticlass: hand 2x2 value; perfect diagonal 1; one-class guesser nulls") {
    def cm(rows: (String, String, Long)*) = rows.toDF("t", "p", "n")
    // c=80 s=100 pt=5000 pp=5200 tt=5000 → 3000/√(4800·5000)
    val hand = Stats.mccMulticlass(cm(("a", "a", 45L), ("a", "b", 5L),
      ("b", "a", 15L), ("b", "b", 35L)), "t", "p", "n").collect().head
    assert(hand.getAs[Double]("mcc") == 0.612372, s"$hand")
    val perfect = Stats.mccMulticlass(cm(("a", "a", 10L), ("b", "b", 20L),
      ("c", "c", 5L)), "t", "p", "n").collect().head
    assert(perfect.getAs[Double]("mcc") == 1.0 &&
      perfect.getAs[Long]("n_classes") == 3L)
    // majority-class guesser: s²−Σp² = 0 → null, never a flattering score
    val guesser = Stats.mccMulticlass(cm(("a", "a", 90L), ("b", "a", 10L)),
      "t", "p", "n").collect().head
    assert(guesser.isNullAt(guesser.fieldIndex("mcc")))
  }

  test("fairnessSlices: perfect slice vs never-positive slice shows the gaps") {
    // slice A: perfectly separated; slice B: model never fires
    val rows =
      (1 to 10).map(_ => ("A", 0.9, 1)) ++
        (1 to 10).map(_ => ("A", 0.1, 0)) ++
        (1 to 10).map(_ => ("B", 0.1, 1)) ++
        (1 to 10).map(_ => ("B", 0.1, 0))
    val out = Stats.fairnessSlices(rows.toDF("g", "s", "y"),
      col("g"), col("s"), col("y")).collect()
      .map(r => r.getAs[String]("slice") -> r).toMap
    val a = out("A")
    assert(a.getAs[Double]("tpr") == 1.0 && a.getAs[Double]("fpr") == 0.0)
    assert(a.getAs[Double]("tpr_gap") == 0.5 &&
      a.getAs[Double]("parity_gap") == 0.25)
    val b = out("B")
    assert(b.getAs[Double]("tpr") == 0.0 &&
      b.getAs[Double]("tpr_gap") == -0.5 &&
      b.getAs[Double]("parity_gap") == -0.25)
    // equalized-odds' other arm: both slices share fpr 0 → no fpr gap
    assert(a.getAs[Double]("fpr_gap") == 0.0 &&
      b.getAs[Double]("fpr_gap") == 0.0)
  }

  test("costThreshold: exact integer costs; tie on zero cost picks largest t") {
    val rows = (0 until 50).map(_ => (0.9, 1)) ++
      (0 until 50).map(_ => (0.1, 0))
    val out = Stats.costThreshold(rows.toDF("s", "y"), col("s"), col("y"))
      .collect().map(r => r.getAs[Double]("threshold") -> r).toMap
    // t=0.1 catches every negative: cost = 1·50; all others are free
    assert(out(0.1).getAs[Long]("cost") == 50L &&
      out(0.1).getAs[Long]("fp") == 50L)
    (2 to 9).map(_ / 10.0).foreach(t =>
      assert(out(t).getAs[Long]("cost") == 0L))
    // zero-cost tie: the flagged best is the LARGEST threshold
    val best = out.values.filter(_.getAs[Boolean]("is_best")).toSeq
    assert(best.size == 1 &&
      best.head.getAs[Double]("threshold") == 0.9)
    // missing positives are priced 5×: drop threshold coverage
    val skewed = (0 until 10).map(_ => (0.55, 1)) ++
      (0 until 10).map(_ => (0.1, 0))
    val sk = Stats.costThreshold(skewed.toDF("s", "y"),
      col("s"), col("y")).collect()
      .map(r => r.getAs[Double]("threshold") -> r.getAs[Long]("cost"))
      .toMap
    assert(sk(0.6) == 50L && sk(0.5) == 0L) // 10 FN × 5 vs none
  }

  test("wilsonCi: zero-success group still gets positive width; p=.5 symmetric") {
    val df = (Seq.fill(10)(("a", 0)) ++
      Seq.fill(10)(("b", 1)) ++ Seq.fill(10)(("b", 0))).toDF("g", "s")
    val out = Stats.wilsonCi(df, "g", col("s") === 1).collect()
      .map(r => r.getAs[String]("grp") -> r).toMap
    // k=0: Wald gives [0,0]; Wilson's upper stays strictly positive
    val a = out("a")
    assert(a.getAs[Double]("p_hat") == 0.0 &&
      a.getAs[Double]("ci_lo") == 0.0 &&
      a.getAs[Double]("ci_hi") > 0.2, s"$a")
    // hand value: hi = 2·z²/2n/(1+z²/n) + z·√(z²/4n²)/(1+z²/n)
    val z2 = 1.96 * 1.96
    val hi = BigDecimal((z2 / 20 / (1 + z2 / 10)) +
      1.96 * math.sqrt(z2 / 400) / (1 + z2 / 10))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(a.getAs[Double]("ci_hi") == hi)
    // p = .5: interval symmetric around the (shrunk-to-.5) center
    val b = out("b")
    assert(math.abs((0.5 - b.getAs[Double]("ci_lo")) -
      (b.getAs[Double]("ci_hi") - 0.5)) < 1e-6)
  }

  test("demingRegression: exact line recovered slope and intercept") {
    // hourly pairs on y = 2x + 3 exactly: Deming recovers the line
    // (OLS would too here — the point is the closed form lands exact)
    val ev = (1 to 24).flatMap { h =>
      Seq((1L, h * 3600L, "click", h.toDouble),
        (2L, h * 3600L, "view", 2.0 * h + 3))
    }.toDF("user_id", "s", "event_type", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("value"))
    val r = Stats.demingRegression(ev).collect().head
    assert(r.getAs[Long]("n_hours") == 24L)
    assert(r.getAs[Double]("slope") == 2.0 &&
      r.getAs[Double]("intercept") == 3.0, s"$r")
    // swapped axes: the calibration line inverts
    val inv = Stats.demingRegression(ev, "view", "click").collect().head
    assert(inv.getAs[Double]("slope") == 0.5 &&
      inv.getAs[Double]("intercept") == -1.5, s"$inv")
  }

  test("poissonTwoRate: hand z on planted counts") {
    val ev = (Seq.fill(30)("error") ++ Seq.fill(20)("signup") ++
      Seq.fill(7)("click")).toDF("event_type")
    val r = Stats.poissonTwoRate(ev).collect().head
    assert(r.getAs[Long]("n_a") == 30L && r.getAs[Long]("n_b") == 20L)
    assert(r.getAs[Double]("rate_ratio") == 1.5)
    assert(r.getAs[Double]("z") == 1.4142) // 10/√50
  }

  test("gTest: diagonal table hits 2N·ln2 exactly; independence scores 0") {
    // perfect association, 2×2 diagonal of 10s: each cell O=10, E=5 →
    // G = 2·20·ln2, micro-quantized → 27.7259
    val diag = (Seq.fill(10)(("x", "p")) ++ Seq.fill(10)(("y", "q")))
      .toDF("a", "b")
    val d = Stats.gTest(diag, "a", "b").collect().head
    assert(d.getAs[Double]("g_stat") == 27.7259 &&
      d.getAs[Long]("df") == 1L && d.getAs[Long]("n_total") == 20L)
    // uniform 2×2: O = E everywhere → every term ln(1) = 0
    val indep = (for (a <- Seq("x", "y"); b <- Seq("p", "q");
                      _ <- 1 to 5) yield (a, b)).toDF("a", "b")
    assert(Stats.gTest(indep, "a", "b").collect()
      .head.getAs[Double]("g_stat") == 0.0)
  }

  test("bartlettTest: identical groups score ~0, 10x spread is loud") {
    def mk(spread: Double) =
      (1 to 60).map(i => ("a", (i % 6).toDouble)) ++
        (1 to 60).map(i => ("b", (i % 6).toDouble * spread))
    val same = Stats.bartlettTest(mk(1.0).toDF("g", "v"), "g", "v")
      .collect().head
    assert(same.getAs[Long]("k") == 2L && same.getAs[Long]("df") == 1L)
    assert(math.abs(same.getAs[Double]("bartlett_chi2")) < 1e-6,
      s"equal variances must score 0: $same")
    val loud = Stats.bartlettTest(mk(10.0).toDF("g", "v"), "g", "v")
      .collect().head.getAs[Double]("bartlett_chi2")
    assert(loud > 50, s"10x variance gap must be loud: $loud")
  }

  test("cramerVonMises: hand values for separation/identity; stripe-invariant") {
    def cvm(rows: Seq[(String, Double)]) =
      Stats.cramerVonMises(rows.toDF("g", "v"), "g", "v", "a", "b")
        .collect().head
    // complete separation a={1,2} b={3,4}: U = 2·0 + 2·8 = 16,
    // T = 16/16 − 15/24 = 0.375
    val sep = cvm(Seq("a" -> 1.0, "a" -> 2.0, "b" -> 3.0, "b" -> 4.0))
    assert(sep.getAs[Double]("t_stat") == 0.375)
    // identical samples (full ties): midranks cancel exactly → T = 0
    val same = cvm(Seq("a" -> 1.0, "a" -> 2.0, "b" -> 1.0, "b" -> 2.0))
    assert(same.getAs[Double]("t_stat") == 0.0)
    // a tie-heavy sample against the driver-side midrank formula
    // (stripe-count invariance: StripedPrefixSpec, on this frame)
    val messy = (1 to 120).map(i => ("a", (i % 7).toDouble)) ++
      (1 to 80).map(i => ("b", (i % 5).toDouble + 0.5))
    val pooled = messy.map(_._2)
    def mr(x: Double) = pooled.count(_ < x) + (pooled.count(_ == x) + 1) / 2.0
    def dev(xs: Seq[Double]) = xs.sorted.zipWithIndex
      .map { case (x, i) => math.pow(mr(x) - (i + 1), 2) }.sum
    val (xa, xb) = (messy.filter(_._1 == "a").map(_._2),
      messy.filter(_._1 == "b").map(_._2))
    val (n, m) = (xa.size.toDouble, xb.size.toDouble)
    val u = n * dev(xa) + m * dev(xb)
    val t = u / (n * m * (n + m)) - (4 * m * n - 1) / (6 * (m + n))
    assert(math.abs(cvm(messy).getAs[Double]("t_stat") - t) < 1e-6)
  }

  test("tukeyHsd: separated group flagged, identical pair q=0") {
    val rows =
      (1 to 20).flatMap(_ => Seq("a" -> 0.9, "a" -> 1.1,
        "b" -> 0.9, "b" -> 1.1, "c" -> 5.9, "c" -> 6.1))
    val out = Stats.tukeyHsd(rows.toDF("g", "v"), "g", "v")
      .collect()
      .map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b")) -> r).toMap
    assert(out.size == 3)
    val ab = out(("a", "b"))
    assert(ab.getAs[Double]("mean_diff") == 0.0 &&
      ab.getAs[Double]("q_stat") == 0.0 &&
      !ab.getAs[Boolean]("significant"))
    val ac = out(("a", "c"))
    assert(ac.getAs[Double]("mean_diff") == -5.0 &&
      ac.getAs[Boolean]("significant"))
    assert(out(("b", "c")).getAs[Boolean]("significant"))
  }

  test("ndcgAtK: perfect ranking scores 1; shuffled ranking matches hand DCG") {
    // one query, rels 3,2,1,0; scores align with rel → ideal ordering
    val perfect = Seq((1, 40L, 3, 10L), (1, 30L, 2, 11L),
      (1, 20L, 1, 12L), (1, 10L, 0, 13L))
    def run(rows: Seq[(Int, Long, Int, Long)]) =
      Stats.ndcgAtK(rows.toDF("q", "s", "r", "i"),
        col("q"), col("s"), col("r"), col("i")).collect().head
    assert(run(perfect).getAs[Double]("ndcg_at_k") == 1.0)
    // reversed scores: DCG from the micro-quantized terms, same math
    val reversed = perfect.map { case (q, s, r, i) => (q, -s, r, i) }
    def term(rel: Int, rank: Int): Long =
      math.rint((math.pow(2, rel) - 1) /
        (math.log(rank + 1) / math.log(2)) * 1e6).toLong
    val dcgU = term(0, 1) + term(1, 2) + term(2, 3) + term(3, 4)
    val idcgU = term(3, 1) + term(2, 2) + term(1, 3) + term(0, 4)
    val rev = run(reversed)
    assert(rev.getAs[Double]("dcg_at_k") ==
      BigDecimal(dcgU / 1e6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rev.getAs[Double]("ndcg_at_k") ==
      BigDecimal(dcgU.toDouble / idcgU).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rev.getAs[Double]("ndcg_at_k") < 1.0)
  }

  test("mrr: first relevant rank drives rr; no relevant hit scores 0") {
    // query 1: rel≥2 first appears at rank 3; query 2: nothing relevant
    val rows = Seq((1, 50L, 0, 1L), (1, 40L, 1, 2L), (1, 30L, 2, 3L),
      (1, 20L, 3, 4L), (2, 50L, 1, 5L), (2, 40L, 0, 6L))
    val out = Stats.mrr(rows.toDF("q", "s", "r", "i"),
      col("q"), col("s"), col("r"), col("i")).collect()
      .map(r => r.getAs[Int]("query") -> r).toMap
    assert(out(1).getAs[Long]("first_rel_rank") == 3L &&
      out(1).getAs[Double]("rr") == 0.333333)
    assert(out(2).getAs[Long]("first_rel_rank") == 0L &&
      out(2).getAs[Double]("rr") == 0.0)
  }

  test("diffInDiff: recovers the planted treatment effect net of group " +
      "gap and time trend; zero within-cell spread nulls t") {
    import spark.implicits._
    def build(noise: Long => Double) = (1L to 40L).flatMap { u =>
      Seq(("2024-01-10 00:00:00", u), ("2024-01-20 00:00:00", u))
    }.toDF("t", "user_id")
      .select(to_timestamp(col("t")).as("ts"), col("user_id"))
      .withColumn("post", col("ts") >= to_date(lit("2024-01-15")))
      .withColumn("trt",
        Stats.md5Arm(col("user_id")) === "B")
      .withColumn("value",
        when(col("post"), 10.0).otherwise(5.0) +
        when(col("trt"), 2.0).otherwise(0.0) +            // stable gap
        when(col("trt") && col("post"), 3.0).otherwise(0.0)) // effect
      .select(col("ts"), col("user_id"), col("value"))
    val r = Stats.diffInDiff(build(_ => 0.0)).collect().head
    // cells: A 5→10, B 7→15: naive post-gap is 5, DiD isolates 3
    assert(r.getAs[Double]("did") == 3.0, s"$r")
    assert(r.getAs[Double]("se") == 0.0 &&
      r.isNullAt(r.fieldIndex("t_stat")), s"$r")
    assert(r.getAs[Long]("n_ctl_pre") + r.getAs[Long]("n_trt_pre") == 40L)
  }

  test("fleissKappa: clear-band prices agree perfectly (pe=1 nulls " +
      "kappa); wedge-zone prices break agreement below 1") {
    import spark.implicits._
    // prices far from every rater's cut points: unanimous S/M/L but
    // across DIFFERENT categories -> p_bar = 1, pe < 1, kappa = 1
    val clear = Seq((1L, 10000.0), (2L, 100000.0), (3L, 200000.0))
      .toDF("o_orderkey", "o_totalprice")
    val c = Stats.fleissKappa(clear).collect().head
    assert(c.getAs[Double]("p_bar") == 1.0 &&
      c.getAs[Double]("kappa") == 1.0, s"$c")
    // every subject lands in ONE category for every rater: pe = 1 and
    // kappa is undefined -> null, not a divide-by-zero
    val uni = Seq((1L, 10000.0), (2L, 20000.0))
      .toDF("o_orderkey", "o_totalprice")
    val u = Stats.fleissKappa(uni).collect().head
    assert(u.getAs[Double]("p_e") == 1.0 && u.isNullAt(u.fieldIndex("kappa")))
    // a price in the 50k-55k wedge splits the raters (M/S/S): kappa < 1
    val wedge = Seq((1L, 52000.0), (2L, 10000.0), (3L, 200000.0))
      .toDF("o_orderkey", "o_totalprice")
    val w = Stats.fleissKappa(wedge).collect().head
    assert(w.getAs[Double]("p_bar") < 1.0 &&
      w.getAs[Double]("kappa") < 1.0, s"$w")
  }

  test("cronbachAlpha: a duplicated item scores alpha 1, opposed items " +
      "null out, incomplete days drop listwise") {
    import spark.implicits._
    def ev(vs: Seq[(Int, String, Double)]) = vs.map { case (d, t, v) =>
      (d * 86400L, t, v)
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    // item B = item A + 5 day by day: one construct, alpha exactly 1
    val base = Seq(0 -> 1.0, 1 -> 3.0, 2 -> 2.0, 3 -> 5.0)
    val dup = ev(base.flatMap { case (d, v) =>
      Seq((d, "a", v), (d, "b", v + 5.0)) })
    val r = Stats.cronbachAlpha(dup).collect().head
    assert(r.getAs[Long]("n_days") == 4L &&
      r.getAs[Double]("alpha") == 1.0, s"$r")
    // item B = -item A: total variance 0 -> null, not divide-by-zero
    val opp = ev(base.flatMap { case (d, v) =>
      Seq((d, "a", v), (d, "b", -v)) })
    val o = Stats.cronbachAlpha(opp).collect().head
    assert(o.isNullAt(o.fieldIndex("alpha")), s"$o")
    // a day missing item b drops listwise
    val gappy = ev(base.flatMap { case (d, v) =>
      Seq((d, "a", v)) ++ (if (d == 2) Nil else Seq((d, "b", v + 5.0))) })
    assert(Stats.cronbachAlpha(gappy).collect().head
      .getAs[Long]("n_days") == 3L)
  }

  test("icc: shifted duplicate rater keeps consistency ICC(3,1) at 1 " +
      "while absolute-agreement ICC(2,1) pays for the rater gap") {
    import spark.implicits._
    def ev(vs: Seq[(Int, String, Double)]) = vs.map { case (d, t, v) =>
      (d * 86400L, t, v)
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    val base = Seq(0 -> 1.0, 1 -> 3.0, 2 -> 2.0, 3 -> 5.0)
    // rater b = rater a + 5: perfect consistency, imperfect agreement
    val shifted = ev(base.flatMap { case (d, v) =>
      Seq((d, "a", v), (d, "b", v + 5.0)) })
    val r = Stats.icc(shifted).collect().head
    assert(r.getAs[Long]("n_days") == 4L && r.getAs[Long]("k_items") == 2L)
    assert(r.getAs[Double]("icc31") == 1.0, s"$r")
    assert(r.getAs[Double]("icc21") < 1.0 &&
      r.getAs[Double]("icc21") > 0.0, s"$r")
    // identical raters: both forms exactly 1
    val same = ev(base.flatMap { case (d, v) =>
      Seq((d, "a", v), (d, "b", v)) })
    val s2 = Stats.icc(same).collect().head
    assert(s2.getAs[Double]("icc21") == 1.0 &&
      s2.getAs[Double]("icc31") == 1.0, s"$s2")
    // a day missing one rater drops listwise
    val gappy = ev(base.flatMap { case (d, v) =>
      Seq((d, "a", v)) ++ (if (d == 2) Nil else Seq((d, "b", v))) })
    assert(Stats.icc(gappy).collect().head.getAs[Long]("n_days") == 3L)
  }

  test("cmhTest: pooled strata reproduce the hand-computed CMH and " +
      "Mantel-Haenszel OR; a balanced stratum adds variance only") {
    import spark.implicits._
    // pick real md5 arms so the operator's split sees planted counts
    val arms = (1L to 400L).toDF("user_id")
      .withColumn("arm", Stats.md5Arm(col("user_id")))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val as = arms.filter(_._2 == "A").map(_._1).toSeq
    val bs = arms.filter(_._2 == "B").map(_._1).toSeq
    // stratum s1: B 10/15 yes, A 3/15 yes; s2: both arms 5/10 yes
    def rows(st: String, users: Seq[Long], nYes: Int) =
      users.zipWithIndex.map { case (u, i) =>
        (u, st, if (i < nYes) 150.0 else 50.0) }
    val events = (rows("s1", bs.take(15), 10) ++
        rows("s1", as.take(15), 3) ++
        rows("s2", bs.slice(15, 25), 5) ++
        rows("s2", as.slice(15, 25), 5))
      .toDF("user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val r = Stats.cmhTest(events).collect().head
    // mirror the operator's quantized arithmetic by hand
    val dev6 = math.round((10.0 - 15.0 * 13.0 / 30.0) * 1e6) // s2 dev=0
    val v6 = math.round(15.0 * 15.0 * 13.0 * 17.0 / (30.0 * 30.0 * 29.0) * 1e6) +
      math.round(10.0 * 10.0 * 10.0 * 10.0 / (20.0 * 20.0 * 19.0) * 1e6)
    val expCmh = BigDecimal(dev6.toDouble * dev6 / 1e6 / v6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n_strata") == 2L, s"$r")
    assert(r.getAs[Double]("cmh") == expCmh, s"$r vs $expCmh")
    // OR_MH: s1 contributes (10*12/30)/(5*3/30), s2 is 1:1 -> 5.25/1.75
    assert(r.getAs[Double]("or_mh") == 3.0, s"$r")
  }

  test("jonckheereTerpstra: reproduces the brute-force pairwise JT on " +
      "an ordered 3-group sample with ties") {
    import spark.implicits._
    val groups = Map(
      "1-HI" -> Seq(40, 35, 38, 43, 44, 41),
      "2-MID" -> Seq(38, 40, 47, 44, 40, 42),
      "3-LO" -> Seq(48, 40, 45, 43, 46, 44))
    val orders = groups.toSeq.flatMap { case (g, vs) =>
      vs.map(v => (g, v.toDouble)) }
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val r = Stats.jonckheereTerpstra(orders).collect().head
    // brute force over ordered group pairs, ties at 1/2
    val names = groups.keys.toSeq.sorted
    val jt = (for {
      i <- names.indices; j <- (i + 1) until names.size
      x <- groups(names(i)); y <- groups(names(j))
    } yield if (x < y) 1.0 else if (x == y) 0.5 else 0.0).sum
    val n = groups.values.map(_.size).sum
    val s2 = groups.values.map(v => v.size.toLong * v.size).sum
    val s3 = groups.values.map(v =>
      v.size.toLong * v.size * (2L * v.size + 3)).sum
    val mu = (n.toLong * n - s2) / 4.0
    val z = BigDecimal((jt - mu) /
        math.sqrt((n.toLong * n * (2L * n + 3) - s3) / 72.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n") == n && r.getAs[Long]("k") == 3L, s"$r")
    assert(r.getAs[Double]("jt") == jt, s"$r vs $jt")
    assert(r.getAs[Double]("mu") == mu, s"$r vs $mu")
    assert(r.getAs[Double]("z") == z, s"$r vs $z")
  }

  test("durbinWatson: x-orthogonal disturbance leaves dw exactly 2; a " +
      "perfect line nulls the ratio; slope is recovered") {
    import spark.implicits._
    def ev(ys: Seq[Double]) = ys.zipWithIndex.map { case (y, h) =>
      (h * 3600L, "click", y) }
      .toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"), lit(1L).as("user_id"))
    // disturbance [+,-,-,+] is orthogonal to both 1 and x: the OLS fit
    // passes through the base line, residuals are exactly [r,-r,-r,r]
    // -> sde = 8r^2, see = 4r^2, dw = 2, rho = 0
    val base = Seq(10.0, 12.0, 14.0, 16.0)
    val dist = Seq(1.0, -1.0, -1.0, 1.0)
    val r = Stats.durbinWatson(ev(base.zip(dist).map(p => p._1 + p._2)))
      .collect().head
    assert(r.getAs[Double]("dw") == 2.0 &&
      r.getAs[Double]("rho") == 0.0, s"$r")
    assert(r.getAs[Double]("slope") == 2.0, s"$r")
    // zero residuals: see = 0 -> null dw, never a divide-by-zero
    val p = Stats.durbinWatson(ev(base)).collect().head
    assert(p.isNullAt(p.fieldIndex("dw")), s"$p")
    assert(p.getAs[Double]("slope") == 2.0, s"$p")
  }

  test("pageTrend: a uniform within-user ordering scores z exactly " +
      "sqrt(2n) signed by direction; all-tied blocks zero it") {
    import spark.implicits._
    def ev(vals: Seq[(Double, Double, Double)]) =
      vals.zipWithIndex.flatMap { case ((c, v, p), u) =>
        Seq((u.toLong, "click", c), (u.toLong, "view", v),
          (u.toLong, "purchase", p)) }
        .toDF("user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    // click < view < purchase in every block: ranks (1,2,3), n=8 ->
    // L = 14n = 112, z = 2n/sqrt(2n) = sqrt(16) = 4
    val up = Stats.pageTrend(
      ev(Seq.fill(8)((1.0, 2.0, 3.0)))).collect().head
    assert(up.getAs[Long]("n") == 8L && up.getAs[Double]("l") == 112.0,
      s"$up")
    assert(up.getAs[Double]("z") == 4.0, s"$up")
    // reversed ordering mirrors: L = 10n, z = -4
    val down = Stats.pageTrend(
      ev(Seq.fill(8)((3.0, 2.0, 1.0)))).collect().head
    assert(down.getAs[Double]("l") == 80.0 &&
      down.getAs[Double]("z") == -4.0, s"$down")
    // all tied: every rank 2, L = 12n exactly the null mean -> z = 0
    val tied = Stats.pageTrend(
      ev(Seq.fill(8)((5.0, 5.0, 5.0)))).collect().head
    assert(tied.getAs[Double]("l") == 96.0 &&
      tied.getAs[Double]("z") == 0.0, s"$tied")
  }

  test("brierDecomposition: bin-constant forecasts make the Murphy " +
      "identity exact; perfect calibration zeroes REL") {
    import spark.implicits._
    // two bins, forecasts constant in each, perfectly calibrated:
    // bin .25 has 1/4 positives, bin .75 has 3/4 -> REL = 0,
    // RES = .5(.25-.5)^2 + .5(.75-.5)^2 = .0625, UNC = .25,
    // Brier = REL - RES + UNC = .1875 exactly
    val df = (Seq.fill(1)((0.25, 1)) ++ Seq.fill(3)((0.25, 0)) ++
        Seq.fill(3)((0.75, 1)) ++ Seq.fill(1)((0.75, 0)))
      .toDF("score", "y")
    val r = Stats.brierDecomposition(df, col("score"), col("y"))
      .collect().head
    assert(r.getAs[Long]("n") == 8L, s"$r")
    assert(r.getAs[Double]("rel") == 0.0, s"$r")
    assert(r.getAs[Double]("res") == 0.0625, s"$r")
    assert(r.getAs[Double]("unc") == 0.25, s"$r")
    assert(r.getAs[Double]("brier") == 0.1875, s"$r")
    assert(r.getAs[Double]("brier_decomp") == 0.1875, s"$r")
    // flipping labels inside the .25 bin breaks calibration: REL grows,
    // Brier rises by the same amount (identity still exact)
    val bad = (Seq.fill(3)((0.25, 1)) ++ Seq.fill(1)((0.25, 0)) ++
        Seq.fill(3)((0.75, 1)) ++ Seq.fill(1)((0.75, 0)))
      .toDF("score", "y")
    val r2 = Stats.brierDecomposition(bad, col("score"), col("y"))
      .collect().head
    assert(r2.getAs[Double]("rel") > 0.0, s"$r2")
    assert(r2.getAs[Double]("brier") == r2.getAs[Double]("brier_decomp"),
      s"$r2")
  }

  test("hodgesLehmann: Walsh-average median shrugs off the outlier the " +
      "mean follows; even counts interpolate exactly") {
    import spark.implicits._
    def ev(vs: Seq[Double]) = vs.zipWithIndex.map { case (v, d) =>
      (d * 86400L, "click", v)
    }.toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    // daily means 1,2,3,4,100: the 15 Walsh averages' median is 3.0
    // (the mean is 22 — one wild day owns it; HL barely moves)
    val r = Stats.hodgesLehmann(ev(Seq(1, 2, 3, 4, 100))).collect().head
    assert(r.getAs[Long]("n_days") == 5L &&
      r.getAs[Long]("n_pairs") == 15L, s"$r")
    assert(r.getAs[Double]("hl") == 3.0, s"$r")
    // even pair count: 1,2,3 -> six Walsh averages, midpoint (2+2)/2
    val e = Stats.hodgesLehmann(ev(Seq(1, 2, 3))).collect().head
    assert(e.getAs[Long]("n_pairs") == 6L &&
      e.getAs[Double]("hl") == 2.0, s"$e")
  }

  test("andersonDarling: hand-computed tie-collapsed A2 on separated, " +
      "interleaved, and identical two-sample layouts") {
    import spark.implicits._
    def df(a: Seq[Double], b: Seq[Double]) =
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    // full separation a={1,2} b={3,4}: terms 1/3, 1, 1/3 (quantized
    // 333333 + 1000000 + 333333) -> A2 = 1.666666
    val sep = Stats.andersonDarling(df(Seq(1, 2), Seq(3, 4)),
      "g", "v", "a", "b").collect().head
    assert(sep.getAs[Long]("n_a") == 2L && sep.getAs[Long]("n_b") == 2L,
      s"$sep")
    assert(sep.getAs[Double]("a2") == 1.666666, s"$sep")
    // perfect interleave a={1,3} b={2,4}: terms 1/3, 0, 1/3 -> 0.666666
    val mix = Stats.andersonDarling(df(Seq(1, 3), Seq(2, 4)),
      "g", "v", "a", "b").collect().head
    assert(mix.getAs[Double]("a2") == 0.666666, s"$mix")
    // identical samples: every num = N*Ma - na*B = 0 -> A2 exactly 0
    val same = Stats.andersonDarling(df(Seq(1, 2), Seq(1, 2)),
      "g", "v", "a", "b").collect().head
    assert(same.getAs[Double]("a2") == 0.0, s"$same")
  }

  test("hoeffdingD: monotone dependence in EITHER direction scores " +
      "exactly 1; the all-tied-y formula value is locked") {
    import spark.implicits._
    def ev(pairs: Seq[(Double, Double)]) =
      pairs.zipWithIndex.flatMap { case ((x, y), h) =>
        Seq((h * 3600L, "click", x), (h * 3600L, "view", y)) }
        .toDF("s", "event_type", "value")
        .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
          col("value"))
    // y = x, n = 5: D1=20, D2=184, D3=50 -> D = 30*4/120 = 1 exactly
    val up = Stats.hoeffdingD(
      ev((1 to 5).map(i => (i.toDouble, i.toDouble)))).collect().head
    assert(up.getAs[Long]("n") == 5L, s"$up")
    assert(up.getAs[Double]("hoeffding_d") == 1.0, s"$up")
    // y = -x: Q_i = 1 for all i, D1=D3=0, D2=4 -> still exactly 1
    // (D measures dependence, not direction — unlike tau/rho)
    val down = Stats.hoeffdingD(
      ev((1 to 5).map(i => (i.toDouble, -i.toDouble)))).collect().head
    assert(down.getAs[Double]("hoeffding_d") == 1.0, s"$down")
    // constant y (total ties): the classical midrank formula gives
    // exactly -1.25 here — D assumes continuous marginals, and the
    // locked value documents the tie convention rather than a theory
    // quantity (Hoeffding 1948 bounds only hold tie-free)
    val tied = Stats.hoeffdingD(
      ev((1 to 5).map(i => (i.toDouble, 7.0)))).collect().head
    assert(tied.getAs[Double]("hoeffding_d") == -1.25, s"$tied")
  }

  test("breslowDay: identical strata fit exactly (chi2 0, integer " +
      "OR recovered); opposite odds ratios light the statistic up") {
    import spark.implicits._
    def arm(u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      if ("%02x".format(d(0)).charAt(0) < '8') "A" else "B"
    }
    val uA = (1L to 100L).find(arm(_) == "A").get
    val uB = (1L to 100L).find(arm(_) == "B").get
    // one stratum = (a yes-B, b no-B, c yes-A, d no-A) cell counts
    def stratum(et: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((uB, et, 150.0)) ++ Seq.fill(b)((uB, et, 50.0)) ++
        Seq.fill(c)((uA, et, 150.0)) ++ Seq.fill(d)((uA, et, 50.0))
    def ev(rows: Seq[(Long, String, Double)]) =
      rows.toDF("user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    // two identical strata, each OR = 9 with EXACT 1e6-quantized
    // ad/n = 11.25, bc/n = 1.25: OR_MH = 9, the BD quadratic solves to
    // a-fit = (720 - sqrt(57600))/16 = 30 = a exactly -> chi2 = 0
    val hom = Stats.breslowDay(ev(stratum("click", 30, 10, 10, 30) ++
      stratum("view", 30, 10, 10, 30))).collect().head
    assert(hom.getAs[Long]("n_strata") == 2L &&
      hom.getAs[Long]("df") == 1L, s"$hom")
    assert(hom.getAs[Double]("or_mh") == 9.0, s"$hom")
    assert(hom.getAs[Double]("bd_chi2") == 0.0, s"$hom")
    // opposite effects (OR 9 vs OR 1/9) pooled to OR_MH = 1: the
    // homogeneity test must reject what CMH would happily average
    val het = Stats.breslowDay(ev(stratum("click", 30, 10, 10, 30) ++
      stratum("view", 10, 30, 30, 10))).collect().head
    assert(het.getAs[Double]("bd_chi2") > 10.0, s"$het")
  }

  test("moodMedian: disjoint groups score the hand-computed chi2 at " +
      "the lower median; identical groups score exactly 0") {
    import spark.implicits._
    def df(gs: (String, Seq[Double])*) =
      gs.flatMap { case (g, vs) => vs.map((g, _)) }.toDF("g", "v")
    // a = 1..5, b = 6..10: N=10, lower median = 5th value = 5.0;
    // above-median counts (0, 5) vs expected 2.5 each ->
    // chi2 = 4 * 2.5^2/2.5 = 10 exactly
    val r = Stats.moodMedian(df("a" -> (1 to 5).map(_.toDouble),
      "b" -> (6 to 10).map(_.toDouble)), "g", "v").collect().head
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("df") == 1L, s"$r")
    assert(r.getAs[Double]("med") == 5.0, s"$r")
    assert(r.getAs[Double]("chi2") == 10.0, s"$r")
    // identical groups: every cell hits its expectation dead on
    val same = Stats.moodMedian(df("a" -> Seq(1, 2, 3, 4),
      "b" -> Seq(1, 2, 3, 4)), "g", "v").collect().head
    assert(same.getAs[Double]("med") == 2.0, s"$same")
    assert(same.getAs[Double]("chi2") == 0.0, s"$same")
  }

  test("ansariBradley: the wide-tailed sample owns the low scores " +
      "(hand AB, brute-force z); identical samples zero the z") {
    import spark.implicits._
    def df(a: Seq[Double], b: Seq[Double]) =
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    // a = {1,2,9,10} (tails), b = {4,5,6} (center), no ties:
    // scores 1,2,3,4,3,2,1 -> AB_a = 1+2+2+1 = 6
    val r = Stats.ansariBradley(df(Seq(1, 2, 9, 10), Seq(4, 5, 6)),
      "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 3L,
      s"$r")
    assert(r.getAs[Double]("ab") == 6.0, s"$r")
    // brute-force twin on doubled scores, identical formula order
    val (ab2, ss2, ss2sq) = (12.0, 32.0, 176.0)
    val n = 7.0
    val mean2 = ss2 / n
    val css = ss2sq - ss2 * ss2 / n
    val z = BigDecimal((ab2 - 4.0 * mean2) /
        math.sqrt(4.0 * 3.0 / (n * (n - 1.0)) * css))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == z, s"$r vs $z")
    assert(r.getAs[Double]("z") < -2.0, s"$r")
    // identical samples (with ties): AB lands exactly on its
    // expectation -> z = 0
    val same = Stats.ansariBradley(df(Seq(1, 2, 3), Seq(1, 2, 3)),
      "g", "v", "a", "b").collect().head
    assert(same.getAs[Double]("ab") == 6.5, s"$same")
    assert(same.getAs[Double]("z") == 0.0, s"$same")
  }

  test("somersD: direction matters — y a step function of x gives " +
      "d_xy = 1 while d_yx pays for the y-ties") {
    import spark.implicits._
    def ev(pairs: Seq[(Double, Double)]) =
      pairs.zipWithIndex.flatMap { case ((x, y), h) =>
        Seq((h * 3600L, "click", x), (h * 3600L, "view", y)) }
        .toDF("s", "event_type", "value")
        .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
          col("value"))
    // x = 1,2,3,4; y = 1,1,2,2: 6 pairs, 4 concordant, 0 discordant,
    // 2 tied on y only. d_yx = 4/6 (y-ties count against predicting
    // y); d_xy = 4/4 = 1 (whenever y moves, x agrees perfectly)
    val r = Stats.somersD(
      ev(Seq((1, 1), (2, 1), (3, 2), (4, 2)))).collect().head
    assert(r.getAs[Long]("nc") == 4L && r.getAs[Long]("nd") == 0L &&
      r.getAs[Long]("n0") == 6L, s"$r")
    assert(r.getAs[Double]("d_yx") == 0.666667, s"$r")
    assert(r.getAs[Double]("d_xy") == 1.0, s"$r")
  }

  test("quade: hand-computed range-weighted F; equal-range identical " +
      "rankings make A2 = B and null the ratio") {
    import spark.implicits._
    def ev(blocks: Seq[(Double, Double, Double)]) =
      blocks.zipWithIndex.flatMap { case ((c, v, p), u) =>
        Seq((u.toLong, "click", c), (u.toLong, "view", v),
          (u.toLong, "purchase", p)) }
        .toDF("user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    // ranges 20, 2, 2 -> Q = (3, 1.5, 1.5); S rows (-3,0,3),
    // (-1.5,0,1.5), (0,-1.5,1.5): A2 = 27, B = 19.5, F = 2*19.5/7.5
    val r = Stats.quade(ev(Seq((10, 20, 30), (1, 2, 3), (5, 4, 6))))
      .collect().head
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("df2") == 4L, s"$r")
    assert(r.getAs[Double]("f") == 5.2, s"$r")
    // two blocks, same ranking, same range: Q both 1.5 -> the
    // between-treatment spread IS the total spread, F undefined
    val p = Stats.quade(ev(Seq((1, 2, 3), (11, 12, 13))))
      .collect().head
    assert(p.isNullAt(p.fieldIndex("f")), s"$p")
  }

  test("covariateBalance: mirror-image arms balance to SMD exactly 0; " +
      "a spend shift shows up on its covariate only") {
    import spark.implicits._
    def arm(u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      if ("%02x".format(d(0)).charAt(0) < '8') "A" else "B"
    }
    val as = (1L to 300L).filter(arm(_) == "A").take(2)
    val bs = (1L to 300L).filter(arm(_) == "B").take(2)
    def ev(rows: Seq[(Long, String, Double)]) =
      rows.toDF("user_id", "event_type", "value")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    def mirror(spendB: Double) = ev(Seq(
      (as(0), "click", 10.0), (as(0), "click", 10.0),
      (as(1), "purchase", 20.0),
      (bs(0), "click", spendB), (bs(0), "click", spendB),
      (bs(1), "purchase", 20.0)))
    val bal = Stats.covariateBalance(mirror(10.0)).collect()
      .map(r => (r.getAs[String]("covariate"), r)).toMap
    assert(bal.keySet ==
      Set("n_events", "spend_cents", "converted"), s"$bal")
    assert(bal.values.forall(_.getAs[Double]("smd") == 0.0), s"$bal")
    assert(bal("n_events").getAs[Double]("mean_a") == 1.5, s"$bal")
    assert(bal("converted").getAs[Double]("mean_b") == 0.5, s"$bal")
    // doubling B's click spend moves ONLY the spend covariate
    val skew = Stats.covariateBalance(mirror(20.0)).collect()
      .map(r => (r.getAs[String]("covariate"), r.getAs[Double]("smd")))
      .toMap
    assert(skew("n_events") == 0.0 && skew("converted") == 0.0, s"$skew")
    assert(skew("spend_cents") > 0.0, s"$skew")
  }

  test("kuiperTest: keeps both signed excursions the KS max would " +
      "collapse — the nested-pair layout scores V = 2x its D") {
    import spark.implicits._
    def df(a: Seq[Double], b: Seq[Double]) =
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    // full separation: only one excursion exists
    val sep = Stats.kuiperTest(df(Seq(1, 2), Seq(3, 4)),
      "g", "v", "a", "b").collect().head
    assert(sep.getAs[Double]("d_plus") == 1.0 &&
      sep.getAs[Double]("d_minus") == 0.0 &&
      sep.getAs[Double]("v_stat") == 1.0, s"$sep")
    // a = {1,4} wraps around b = {2,3}: KS sees D = 0.5; Kuiper sees
    // both half-excursions and doubles it
    val nest = Stats.kuiperTest(df(Seq(1, 4), Seq(2, 3)),
      "g", "v", "a", "b").collect().head
    assert(nest.getAs[Double]("d_plus") == 0.5 &&
      nest.getAs[Double]("d_minus") == 0.5 &&
      nest.getAs[Double]("v_stat") == 1.0, s"$nest")
  }

  test("cohensH: the arcsine effect size hits pi/2 for a 0.5 -> 1.0 " +
      "conversion jump") {
    import spark.implicits._
    def arm(u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      if ("%02x".format(d(0)).charAt(0) < '8') "A" else "B"
    }
    val as = (1L to 200L).filter(arm(_) == "A").take(2)
    val bs = (1L to 200L).filter(arm(_) == "B").take(2)
    val ev = Seq((as(0), 150.0), (as(1), 50.0), (bs(0), 150.0),
      (bs(1), 150.0)).toDF("user_id", "value")
    val r = Stats.cohensH(ev).collect().head
    assert(r.getAs[Double]("p_a") == 0.5 &&
      r.getAs[Double]("p_b") == 1.0, s"$r")
    // 2asin(1) - 2asin(sqrt(.5)) = pi - pi/2
    assert(r.getAs[Double]("cohens_h") == 1.570796, s"$r")
  }

  test("yuenTTest: trimmed means shrug off the tail the plain t-test " +
      "would chase; hand winsorized variance gives the exact t") {
    import spark.implicits._
    def df(a: Seq[Double], b: Seq[Double]) =
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    // a = {1,2,3,4,100}: g=1 trims to {2,3,4} (tmean 3), winsorized
    // {2,2,3,4,4} SSD 4; b = {11..15} mirrors at tmean 13 ->
    // t = -10/sqrt(4/3 + 4/3)... each d = 4/(3*2) = 2/3, sum 4/3
    val r = Stats.yuenTTest(df(Seq(1, 2, 3, 4, 100),
      Seq(11, 12, 13, 14, 15)), "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("h_a") == 3L && r.getAs[Long]("h_b") == 3L,
      s"$r")
    assert(r.getAs[Double]("tmean_a") == 3.0 &&
      r.getAs[Double]("tmean_b") == 13.0, s"$r")
    assert(r.getAs[Double]("yuen_t") == -8.6603, s"$r")
    // robustness: inflating the outlier 10000x changes NOTHING
    val wild = Stats.yuenTTest(df(Seq(1, 2, 3, 4, 1000000),
      Seq(11, 12, 13, 14, 15)), "g", "v", "a", "b").collect().head
    assert(wild.getAs[Double]("tmean_a") == 3.0 &&
      wild.getAs[Double]("yuen_t") == -8.6603, s"$wild")
  }

  test("welchBatteryBY: the harmonic penalty makes BY uniformly more " +
      "conservative than BH on the same battery") {
    import spark.implicits._
    val df = (Seq.fill(40)(("a", 1.0)) ++ Seq.fill(40)(("a", 2.0)) ++
      Seq.fill(40)(("b", 5.0)) ++ Seq.fill(40)(("b", 6.0)) ++
      Seq.fill(40)(("c", 5.2)) ++ Seq.fill(40)(("c", 6.2)))
      .toDF("g", "v")
    def adj(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => ((r.getAs[String]("group_a"), r.getAs[String]("group_b")),
        r.getAs[Double]("p_adj"))).toMap
    val bh = adj(Stats.welchBatteryBH(df, "g", "v").collect())
    val by = adj(Stats.welchBatteryBY(df, "g", "v").collect())
    assert(bh.keySet == by.keySet && bh.nonEmpty, s"$bh / $by")
    for ((k, pBh) <- bh) {
      assert(by(k) >= pBh, s"BY must dominate BH at $k: ${by(k)} < $pBh")
    }
    // with m = 3 the penalty is 1 + 1/2 + 1/3: any unsaturated pair's
    // BY adjustment is exactly 11/6 of its BH one before the min-step
    assert(by.values.max <= 1.0)
  }

  test("giniStump: the separable corpus splits at the class boundary " +
      "with gain = parent gini; one-class data ties to the smallest " +
      "threshold at zero gain") {
    import spark.implicits._
    def docs(rows: (Long, String)*) = rows.toSeq.zipWithIndex
      .map { case ((n, l), i) => (i.toLong, l, n) }
      .toDF("doc_id", "lang", "n_chars")
    // en = {10,20}, fr = {30,40}: threshold 20 separates perfectly ->
    // gain = parent gini 0.5
    val sep = Stats.giniStump(docs((10L, "en"), (20L, "en"),
      (30L, "fr"), (40L, "fr"))).collect().head
    assert(sep.getAs[Long]("threshold") == 20L, s"$sep")
    assert(sep.getAs[Long]("n_left") == 2L &&
      sep.getAs[Long]("n_right") == 2L, s"$sep")
    assert(sep.getAs[Double]("gini_gain") == 0.5, s"$sep")
    // all-en: every split scores the same -> smallest value wins, 0
    val one = Stats.giniStump(docs((5L, "en"), (6L, "en"),
      (7L, "en"))).collect().head
    assert(one.getAs[Long]("threshold") == 5L &&
      one.getAs[Double]("gini_gain") == 0.0, s"$one")
  }

  test("nelsonAalen: conversion-clock hazard increments sum exactly; " +
      "never-buyers censor without contributing hazard") {
    import spark.implicits._
    // u1,u2 buy on day 1; u4 buys immediately; u3 never buys (censored
    // at day 3). Risk sets: day0 n=4 d=1, day1 n=3 d=2, day3 n=1 c=1
    val ev = Seq(
      (1L, "click", 0L), (1L, "purchase", 86400L),
      (2L, "click", 0L), (2L, "purchase", 86400L),
      (3L, "click", 0L), (3L, "view", 3 * 86400L),
      (4L, "purchase", 0L))
      .toDF("user_id", "event_type", "s")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("s")).as("ts"), lit(1.0).as("value"),
        col("user_id").as("event_id"))
    val out = Stats.nelsonAalen(ev).collect()
      .map(r => (r.getAs[Long]("dur_days"),
        (r.getAs[Long]("n_risk"), r.getAs[Long]("d"),
          r.getAs[Double]("cum_hazard")))).toMap
    assert(out(0L) == (4L, 1L, 0.25), s"$out")
    assert(out(1L) == (3L, 2L, 0.916667), s"$out")
    assert(out(3L) == (1L, 0L, 0.916667), s"$out")
  }

  test("logRank: symmetric arms score exactly 0; an immediate-buyer " +
      "arm vs a never-buyer arm scores the hand chi2") {
    import spark.implicits._
    def arm(u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      if ("%02x".format(d(0)).charAt(0) < '8') "A" else "B"
    }
    val as = (1L to 200L).filter(arm(_) == "A").take(2)
    val bs = (1L to 200L).filter(arm(_) == "B").take(2)
    def ev(rows: Seq[(Long, String, Long)]) =
      rows.toDF("user_id", "event_type", "s")
        .select(col("user_id"), col("event_type"),
          timestamp_seconds(col("s")).as("ts"), lit(1.0).as("value"),
          col("user_id").as("event_id"))
    // mirror-image arms: every risk set is half-A -> O-E = 0 per day
    val sym = Stats.logRank(ev(
      Seq((as(0), "click", 0L), (as(0), "purchase", 86400L),
        (as(1), "click", 0L), (as(1), "view", 2 * 86400L),
        (bs(0), "click", 0L), (bs(0), "purchase", 86400L),
        (bs(1), "click", 0L), (bs(1), "view", 2 * 86400L))))
      .collect().head
    assert(sym.getAs[Double]("chi2") == 0.0, s"$sym")
    // A converts at day 0, B never: one event day, O-E = 1,
    // V = 2*(1/2)(1/2)*2/3 = 1/3 -> chi2 = 1e6/333333 = 3.000003
    val far = Stats.logRank(ev(
      Seq((as(0), "purchase", 0L), (as(1), "purchase", 0L),
        (bs(0), "click", 0L), (bs(0), "view", 5 * 86400L),
        (bs(1), "click", 0L), (bs(1), "view", 5 * 86400L))))
      .collect().head
    assert(far.getAs[Long]("n_a") == 2L && far.getAs[Long]("n_b") == 2L,
      s"$far")
    assert(far.getAs[Double]("chi2") == 3.000003, s"$far")
  }

  test("herfindahl: monopoly pegs at 1 (normalized null), equal split " +
      "hits 1/n, and the skewed book prices its effective count") {
    import spark.implicits._
    def ords(rows: (Long, Double)*) =
      rows.toSeq.toDF("o_custkey", "o_totalprice")
    val mono = Stats.herfindahl(ords((1L, 100.0))).collect().head
    assert(mono.getAs[Double]("hhi") == 1.0 &&
      mono.getAs[Double]("effective_n") == 1.0, s"$mono")
    assert(mono.isNullAt(mono.fieldIndex("hhi_norm")), s"$mono")
    val eq = Stats.herfindahl(ords((1L, 25.0), (2L, 25.0), (3L, 25.0),
      (4L, 25.0))).collect().head
    assert(eq.getAs[Double]("hhi") == 0.25 &&
      eq.getAs[Double]("hhi_norm") == 0.0 &&
      eq.getAs[Double]("effective_n") == 4.0, s"$eq")
    // shares (.7,.1,.1,.1): hhi = .52, norm = .36, 1/.52 = 1.9231
    val skew = Stats.herfindahl(ords((1L, 70.0), (2L, 10.0),
      (3L, 10.0), (4L, 10.0))).collect().head
    assert(skew.getAs[Double]("hhi") == 0.52 &&
      skew.getAs[Double]("hhi_norm") == 0.36 &&
      skew.getAs[Double]("effective_n") == 1.9231, s"$skew")
  }

  test("qini: a top-half-only treatment effect climbs the curve to " +
      "its plateau; paired scores pin one arm per decile slot") {
    import spark.implicits._
    def arm(u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      if ("%02x".format(d(0)).charAt(0) < '8') "A" else "B"
    }
    val as = (1L to 300L).filter(arm(_) == "A").take(10)
    val bs = (1L to 300L).filter(arm(_) == "B").take(10)
    // decile r holds the pair (B_r score 2000-200r, A_r 1990-200r);
    // treated users convert only in the top five deciles
    val rows = (0 until 10).flatMap { r =>
      val base = Seq(
        (bs(r), "click", (2000 - 200 * r) / 100.0),
        (as(r), "click", (1990 - 200 * r) / 100.0))
      if (r < 5) base :+ ((bs(r), "purchase", 1.0)) else base
    }
    val ev = rows.toDF("user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val out = Stats.qini(ev).collect()
      .map(r => (r.getAs[Long]("decile"), r)).toMap
    assert(out(1L).getAs[Double]("uplift") == 1.0, s"${out(1L)}")
    assert(out(1L).getAs[Double]("qini") == 1.0, s"${out(1L)}")
    assert(out(5L).getAs[Double]("qini") == 5.0, s"${out(5L)}")
    assert(out(10L).getAs[Double]("uplift") == 0.0 &&
      out(10L).getAs[Double]("qini") == 5.0, s"${out(10L)}")
  }

  test("weightedQuantiles: cumulative-weight rank selection follows " +
      "the mass, not the row count") {
    import spark.implicits._
    def df(rows: (Double, Double)*) = rows.toSeq.toDF("v", "w")
    // weights 5,3,2 of 10: p25 and p50 both land on the heavy low
    // value (cw 5 reaches 50%), p75 steps to the middle
    val front = Stats.weightedQuantiles(
      df((10.0, 5.0), (20.0, 3.0), (30.0, 2.0)), "v", "w")
      .collect()
      .map(r => (r.getAs[Long]("p"), r.getAs[Double]("wq"))).toMap
    assert(front == Map(25L -> 10.0, 50L -> 10.0, 75L -> 20.0),
      s"$front")
    // one 8-weight row outvotes two singletons: the weighted median is
    // 30 where the plain median of the three rows would say 20
    val back = Stats.weightedQuantiles(
      df((10.0, 1.0), (20.0, 1.0), (30.0, 8.0)), "v", "w")
      .collect()
      .map(r => (r.getAs[Long]("p"), r.getAs[Double]("wq"))).toMap
    assert(back(50L) == 30.0, s"$back")
  }

  test("ipf: a balanced grid keeps every weight at exactly 1; raking " +
      "an unbalanced grid recovers both uniform margins") {
    import spark.implicits._
    def ev(cells: Seq[(String, Int, Int)]) = cells.flatMap {
      case (et, day, n) => Seq.fill(n)((et,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))))
    }.toDF("event_type", "d")
      .select(col("event_type"), col("d").cast("timestamp").as("ts"))
    // 2x2, all cells equal: every scaling factor is exactly 1e9/1e9
    val bal = Stats.ipf(ev(Seq(("a", 0, 5), ("a", 1, 5), ("b", 0, 5),
      ("b", 1, 5)))).collect()
    assert(bal.length == 4 &&
      bal.forall(_.getAs[Double]("weight") == 1.0), bal.mkString(","))
    // skewed joint: after 3 full rounds both weighted margins sit
    // within 1% of uniform
    val out = Stats.ipf(ev(Seq(("a", 0, 30), ("a", 1, 10),
      ("b", 0, 10), ("b", 1, 10)))).collect()
      .map(r => ((r.getAs[String]("event_type"), r.getAs[Long]("dow")),
        (r.getAs[Long]("n"), r.getAs[Double]("weight")))).toMap
    val total = out.values.map { case (n, w) => n * w }.sum
    def margin(f: ((String, Long)) => Boolean) =
      out.filter(kv => f(kv._1)).values.map { case (n, w) => n * w }.sum
    for (m <- Seq(margin(_._1 == "a"), margin(_._1 == "b"),
      margin(_._2 == 0L), margin(_._2 == 1L))) {
      assert(math.abs(m / total - 0.5) < 0.01, s"margin $m of $total")
    }
  }

  test("ipf: a null event_type cell drops at the first scaling, a null " +
      "day cell at the second after counting in its row margin, and tt " +
      "counts both") {
    import spark.implicits._
    // (event_type, day, n); a null day makes a null ts and so a null cgrp
    val cells = Seq[(String, Option[Int], Int)](("a", Some(0), 30),
      ("a", Some(1), 10), ("b", Some(0), 10), ("b", Some(1), 10),
      (null, Some(0), 5), (null, None, 2), ("a", None, 7), ("b", None, 3))
    val events = cells.flatMap { case (et, d, n) => Seq.fill(n)((et, d)) }
      .toDF("event_type", "day")
      .select(col("event_type"),
        date_add(lit("1970-01-01").cast("date"), col("day"))
          .cast("timestamp").as("ts"))
    val out = Stats.ipf(events).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // pinned from the join-per-scaling form (inner joins on the key)
    assert(out == Map(("a", 0L) -> (30L, 0.813347),
      ("a", 1L) -> (10L, 1.408438), ("b", 0L) -> (10L, 1.409958),
      ("b", 1L) -> (10L, 2.441562)), s"$out")
  }

  /** The window-chain form `Stats.ipf` had before it raked the grid in
    * one task, kept as the reference its rows must equal: `tt`/`kr`/`kc`
    * as whole-frame windows and each scaling's margin as a window over
    * its key, null keys filtered after their scaling. */
  private def windowedIpf(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    var w = events.select(col("event_type").as("r"),
        pmod(expr("unix_date(cast(ts as date))").cast("long"), lit(7L))
          .as("cgrp"))
      .groupBy("r", "cgrp").agg(count(lit(1)).as("n"))
      .coalesce(1)
      .select(col("r"), col("cgrp"), col("n"), sum("n").over().as("tt"),
        size(collect_set("r").over()).cast("long").as("kr"),
        size(collect_set("cgrp").over()).cast("long").as("kc"),
        lit(1000000000L).as("w9"))
    def rescale(keyCol: String, kCol: String): Unit = {
      val s = sum(col("n").cast(dec) * col("w9").cast(dec))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(keyCol))
      w = w.withColumn("w9", round(
          (col("tt").cast(dec) * col("w9").cast(dec) *
            lit(1000000000L).cast(dec)).cast("double") /
          (col(kCol).cast("double") * s.cast("double")))
          .cast("long"))
        .filter(col(keyCol).isNotNull)
    }
    for (_ <- 1 to 3) { rescale("r", "kr"); rescale("cgrp", "kc") }
    w.select(col("r").as("event_type"), col("cgrp").as("dow"), col("n"),
      (floor(col("w9").cast("double") / 1000.0 + 0.5) / 1e6).as("weight"))
  }

  test("ipf: the one-task raking step returns the window chain's rows " +
      "and schema on seeded random grids") {
    // (event_type, day, n) cells; a null day makes a null ts, so a null
    // cgrp; days d and d + 7 land in the same cell
    def events(cells: Seq[(String, Option[Int], Int)]) =
      cells.flatMap { case (et, d, n) => Seq.fill(n)((et, d)) }
        .toDF("event_type", "day")
        .select(col("event_type"),
          date_add(lit("1970-01-01").cast("date"), col("day"))
            .cast("timestamp").as("ts"))
    val rnd = new scala.util.Random(20261019L)
    def randomGrid(kr: Int, days: Seq[Int], nulls: Boolean) = {
      val ets = (0 until kr).map(i => s"t$i") ++ (if (nulls) Seq(null) else Nil)
      val ds = days.map(Option(_)) ++ (if (nulls) Seq(None) else Nil)
      for (et <- ets; d <- ds if rnd.nextDouble() < 0.85)
        yield (et, d.map(_ + 7 * rnd.nextInt(3)), 1 + rnd.nextInt(40))
    }
    val grids: Seq[Seq[(String, Option[Int], Int)]] = Seq(
      Seq(("a", Some(3), 9)),                                   // 1 x 1
      (0 until 7).map(d => ("a", Some(d), 1 + 3 * d)),          // 1 x 7
      Seq(("a", Some(2), 4), ("b", Some(9), 11), ("c", Some(2), 1)), // k x 1
      Seq(("a", Some(0), 5), (null, Some(0), 6), (null, None, 2)),
      Seq((null, Some(1), 3), (null, None, 4)),                 // no key left
      Nil) ++                                                   // empty
      (1 to 16).map(i => randomGrid(1 + rnd.nextInt(6),
        (0 until 7).filter(_ => rnd.nextDouble() < 0.8) :+ (i % 7), i % 2 == 0))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(r => (Option(r.getString(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    grids.zipWithIndex.foreach { case (cells, i) =>
      val ev = events(cells)
      val got = Stats.ipf(ev)
      val ref = windowedIpf(ev)
      assert(got.schema == ref.schema, s"grid $i")
      assert(sorted(got) == sorted(ref), s"grid $i: $cells")
    }
  }

  test("brunnerMunzel: hand-computed W on the interleave, p_hat 1 with " +
      "null W under separation, exact zero on identical samples") {
    import spark.implicits._
    def df(a: Seq[Double], b: Seq[Double]) =
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    // a={1,3}, b={2,4}: placements a (0,1), b (1,2), variances 0.5
    // each -> W = 4*1/(4*sqrt(2)) = 0.707107, p_hat = 0.75
    val mix = Stats.brunnerMunzel(df(Seq(1, 3), Seq(2, 4)),
      "g", "v", "a", "b").collect().head
    assert(mix.getAs[Double]("p_hat") == 0.75, s"$mix")
    assert(mix.getAs[Double]("bm_w") == 0.707107, s"$mix")
    // complete separation: placement variances vanish (the BM
    // degenerate case) -> p_hat pegs at 1, W reports null not a blowup
    val sep = Stats.brunnerMunzel(df(Seq(1, 2), Seq(3, 4)),
      "g", "v", "a", "b").collect().head
    assert(sep.getAs[Double]("p_hat") == 1.0, s"$sep")
    assert(sep.isNullAt(sep.fieldIndex("bm_w")), s"$sep")
    // identical samples (ties): stochastic equality dead on
    val same = Stats.brunnerMunzel(df(Seq(1, 2), Seq(1, 2)),
      "g", "v", "a", "b").collect().head
    assert(same.getAs[Double]("p_hat") == 0.5 &&
      same.getAs[Double]("bm_w") == 0.0, s"$same")
  }

  test("grubbs: the planted spike is the argmax with the closed-form " +
      "G = sqrt(3.2); deviation ties resolve to the earliest hour") {
    import spark.implicits._
    def ev(vs: Seq[Double]) = vs.zipWithIndex.map { case (v, h) =>
      (h * 3600L, "click", v) }
      .toDF("s", "event_type", "value")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"),
        col("value"))
    // 10,10,10,10,50: mean 18, s = sqrt(320), G = 32/sqrt(320)
    // = sqrt(3.2) -> 1.788854 at hour 4
    val r = Stats.grubbs(ev(Seq(10, 10, 10, 10, 50))).collect().head
    assert(r.getAs[Long]("n") == 5L, s"$r")
    assert(r.getAs[Long]("t_star") == 4L, s"$r")
    assert(r.getAs[Double]("g") == 1.788854, s"$r")
    // 10,50,10,10,50: both spikes deviate 24, both troughs 16 ->
    // max-deviation tie between hours 1 and 4 goes to hour 1
    val tie = Stats.grubbs(ev(Seq(10, 50, 10, 10, 50))).collect().head
    assert(tie.getAs[Long]("t_star") == 1L, s"$tie")
  }
}
