package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Statistics & profiling operators (reference: work/Intro_pySpark.ipynb —
  * summary/describe, approxQuantile, stat.corr, stat.cov, sample).
  *
  * All single-pass aggregations: a numeric profile over k columns is ONE
  * job with map-side partial aggregation, not k describe() passes. Exact
  * percentiles are used where an oracle must match; `approxQuantile`
  * (Greenwald-Khanna) stays the scale path for 100 TB interactive use.
  */
object Stats {

  /** count/mean/std/min/max per column, one row per column, one pass. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        round(avg(col(c)), 4).as(s"${c}__mean"),
        round(stddev_samp(col(c)), 4).as(s"${c}__std"),
        round(min(col(c)), 4).as(s"${c}__minv"),
        round(max(col(c)), 4).as(s"${c}__maxv"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single wide row into (column, n, mean, std, minv, maxv)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__n").as("n"), col(s"${c}__mean").as("mean"),
        col(s"${c}__std").as("std"), col(s"${c}__minv").as("minv"),
        col(s"${c}__maxv").as("maxv"))
    }
    wide.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  /** Exact interpolated percentiles (oracle-comparable twin of
    * approxQuantile; both exposed so callers choose accuracy vs cost). */
  def quantiles(df: DataFrame, c: String, qs: Seq[Double]): DataFrame = {
    val aggs = qs.map(q =>
      round(expr(s"percentile($c, $q)"), 4).as(s"q${(q * 100).toInt}"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Greenwald-Khanna approximate quantiles — the reference's
    * approxQuantile(col, probs, err) (constant memory per partition, no
    * full sort; the right tool at 100 TB). */
  def approxQuantiles(df: DataFrame, c: String, qs: Seq[Double],
                      relativeError: Double): Array[Double] =
    df.stat.approxQuantile(c, qs.toArray, relativeError)

  /** Distributed twin of `approxQuantiles` that stays a DataFrame (no
    * driver-side Array): percentile_approx aggregation, sketch merged
    * map-side. `accuracy` is 1/relativeError (Spark's knob). Approximate
    * by design → rows-only contract entry + error-bound property spec
    * against the exact `quantiles`. */
  def approxQuantilesDf(df: DataFrame, c: String, qs: Seq[Double],
                        accuracy: Int = 10000): DataFrame = {
    val aggs = qs.map(q =>
      round(percentile_approx(col(c), lit(q), lit(accuracy)), 4)
        .as(s"q${(q * 100).toInt}"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Pearson correlation + sample covariance in one aggregation. */
  def corrCov(df: DataFrame, x: String, y: String): DataFrame =
    df.agg(
      round(corr(col(x), col(y)), 6).as("corr_xy"),
      round(covar_samp(col(x), col(y)), 4).as("cov_xy"))

  /** HyperLogLog approximate distinct counts — the 100 TB twin of exact
    * countDistinct (constant sketch memory, single pass, no expand). */
  def approxDistinct(df: DataFrame, groupCol: String, c: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCol)
      .agg(approx_count_distinct(col(c), rsd).as("approx_distinct"),
        countDistinct(col(c)).as("exact_distinct"))

  /** WINSORIZATION — clip per-group outliers to the [pLo, pHi] exact
    * percentile band, the standard robustification before training on
    * heavy-tailed numerics. Scale shape: one partial-agg pass computes
    * the per-group bounds (a groups×2 frame), which BROADCAST back onto
    * the scan — the data itself is never shuffled and the clip is a
    * codegen'd least/greatest. Swap `percentile` for
    * `approx_percentile` when per-group sorts are too hot at 100 TB —
    * the join shape is unchanged. */
  def winsorize(df: DataFrame, groupCol: String, c: String,
                pLo: Double, pHi: Double): DataFrame = {
    val bounds = df.groupBy(groupCol).agg(
      expr(s"percentile($c, $pLo)").as("__lo"),
      expr(s"percentile($c, $pHi)").as("__hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn("value_w",
        round(least(greatest(col(c), col("__lo")), col("__hi")), 4))
      .withColumn("clipped", col(c) < col("__lo") || col(c) > col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Deterministic per-group mode: the most frequent value, ties to the
    * smallest — Spark's built-in `mode()` breaks ties arbitrarily, which
    * can't be oracle-checked or reproduced across runs. Two narrow
    * shuffles on (group, value) then group; the rank filter is a
    * map-side WindowGroupLimit, so a billion-row hot group ships one
    * candidate row per task. */
  def modePerGroup(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(desc("freq"), asc("mode_value"))
    df.groupBy(col(groupCol), col(c).as("mode_value"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** MERGEABLE distinct-count sketches (Apache DataSketches HLL): one
    * pass builds a per-group sketch, and the sketches themselves union
    * associatively — the property the 100 TB architecture needs: daily
    * partitions keep their (few-KB) sketches, and any rollup window
    * merges them WITHOUT rescanning data. approx_count_distinct gives
    * only final numbers; this exposes the sketch as a value. Output:
    * one approx_nd per group plus the '__all__' row estimated from the
    * UNION of the per-group sketches (never from re-reading rows) —
    * property-specced within HLL error of the exact counts. */
  def hllMergeProfile(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val sk = df.groupBy(groupCol)
      .agg(hll_sketch_agg(col(c)).as("sk"))
    val per = sk.select(col(groupCol),
      hll_sketch_estimate(col("sk")).as("approx_nd"))
    val all = sk
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_nd"))
      .select(lit("__all__").as(groupCol), col("approx_nd"))
    per.unionByName(all)
  }

  /** Fixed-bucket histogram: deterministic integer arithmetic on both
    * engines (single pass, map-side partial counts). */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double,
                nBins: Int): DataFrame =
    df.withColumn("bucket",
        least(lit(nBins - 1), greatest(lit(0),
          floor((col(c) - lo) / (hi - lo) * nBins))).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))

  /** Higher distribution moments — skewness and kurtosis per group in
    * the same single partial-agg pass as the mean/stddev profile.
    * Rows-only: Spark's definitions (population g1, excess g2) differ
    * from DuckDB's sample-adjusted ones, so the contract is
    * property-tested (bounds + symmetry) rather than oracled. */
  /** Per-group skewness g₁ = m₃/m₂^1.5 and excess kurtosis
    * g₂ = m₄/m₂² − 3 (population central moments — the same convention
    * Spark's native skewness/kurtosis use), computed ENGINE-EXACTLY:
    * values quantize to the 1e-4 lattice and the four power sums
    * S₁..S₄ accumulate in decimal(38,0) (S₄ of 1e6-scale ints stays
    * inside 38 digits at any corpus size), so every engine and every
    * partitioning derives the central moments from identical exact
    * integers — the nondeterministic float Σx³/Σx⁴ that kept this row
    * rows-only through r7 is gone. One partial-agg pass. */
  def skewKurt(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = round(col(c) * 10000).cast("long").cast(dec)
    val g = df.groupBy(groupCol).agg(count(lit(1)).as("n"),
      sum(q).as("s1"), sum(q * q).as("s2"),
      sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
    val n = col("n").cast("double")
    val Seq(s1, s2, s3, s4) =
      Seq("s1", "s2", "s3", "s4").map(x => col(x).cast("double"))
    val mu = s1 / n
    val m2 = s2 / n - mu * mu
    val m3 = s3 / n - lit(3.0) * mu * (s2 / n) + lit(2.0) * mu * mu * mu
    val m4 = s4 / n - lit(4.0) * mu * (s3 / n) +
      lit(6.0) * mu * mu * (s2 / n) - lit(3.0) * mu * mu * mu * mu
    g.select(col(groupCol), col("n"),
      round(m3 / nullif(sqrt(m2 * m2 * m2), lit(0.0)), 6).as("skew"),
      round(m4 / nullif(m2 * m2, lit(0.0)) - lit(3.0), 6).as("kurt"))
  }

  /** Top-N value counts with deterministic tie-break on the value itself
    * (reference: work/analysis_sectors_by_location.ipynb value_counts). */
  def freqTopN(df: DataFrame, c: String, n: Int): DataFrame =
    topNFromCounts(df.groupBy(c).agg(count(lit(1)).as("n")), c, n)

  /** The rank-and-cut over a pre-counted (value, n) frame — split out
    * so the streaming heavy-hitters store reports through the SAME
    * ordering/tiebreak as the batch [[freqTopN]] (one definition, two
    * surfaces; TakeOrdered, never a global sort). */
  def topNFromCounts(counts: DataFrame, c: String, n: Int): DataFrame =
    counts.orderBy(desc("n"), asc(c)).limit(n)

  /** Welch's two-sample t-test between every pair of groups — the A/B
    * significance primitive the profiling layer feeds (does `value`
    * really differ between event types, or is it noise?).
    *
    * Scale shape: ONE partial-agg pass collapses the corpus to one
    * (n, mean, var) row per group; the pair frame is a self-join of that
    * group-count-sized frame (never the data), so 100 TB costs the same
    * scan as st_describe. t and the Welch–Satterthwaite df are closed
    * forms over the moments — no second pass, no resampling. */
  def welchTTest(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val stats = df.groupBy(groupCol).agg(
      count(col(c)).as("n"), avg(col(c)).as("m"), var_samp(col(c)).as("v"))
    val a = stats.select(col(groupCol).as("group_a"), col("n").as("na"),
      col("m").as("ma"), col("v").as("va"))
    val b = stats.select(col(groupCol).as("group_b"), col("n").as("nb"),
      col("m").as("mb"), col("v").as("vb"))
    val se2 = col("va") / col("na") + col("vb") / col("nb")
    a.crossJoin(b).filter(col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"), col("na"), col("nb"),
        round((col("ma") - col("mb")) / sqrt(se2), 4).as("t_stat"),
        round(pow(se2, 2) / (
          pow(col("va") / col("na"), 2) / (col("na") - 1) +
            pow(col("vb") / col("nb"), 2) / (col("nb") - 1)), 4).as("df"))
  }

  /** Chi-squared test of independence between two categorical columns
    * (is `lang` independent of `source`?) — the categorical sibling of
    * welchTTest/anovaF in the profiling layer.
    *
    * Scale shape: ONE partial-agg pass collapses the corpus to the
    * observed contingency cells (r×c rows); marginals and the grand
    * total are aggregates OF that tiny frame, and the full r×c grid
    * (including never-observed cells, which a correct χ² must count at
    * their expected mass) is a cross join of the two marginal frames —
    * nothing data-sized moves after the first pass. */
  def chiSquare(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a).as("__a"), col(b).as("__b"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy("__a").agg(sum("o").as("ra"))
    val colT = cells.groupBy("__b").agg(sum("o").as("cb"))
    val grand = cells.agg(sum("o").as("n"))
    val e = col("ra") * col("cb") / col("n")
    rowT.crossJoin(colT)
      .join(cells, Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(grand))
      .agg(
        round(sum(pow(col("o") - e, 2) / e), 4).as("chi2"),
        ((countDistinct("__a") - 1) * (countDistinct("__b") - 1)).as("df"),
        max("n").as("n_total"))
  }

  /** G-TEST of independence (likelihood-ratio χ², [[chiSquare]]'s
    * information-theoretic twin): G = 2·Σ O·ln(O/E) — additive across
    * partitions of the table (χ² is not), and the statistic modern
    * contingency practice prefers at small expected counts. Observed
    * cells only (O = 0 terms vanish), same one-pass cell machinery as
    * chiSquare; each O·ln(O/E) term quantizes to integer MICRO-units
    * before the unordered cell sum (ml_nb log discipline), so G is
    * exact long arithmetic until one division. */
  def gTest(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a).as("__a"), col(b).as("__b"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy("__a").agg(sum("o").as("ra"))
    val colT = cells.groupBy("__b").agg(sum("o").as("cb"))
    val grand = cells.agg(sum("o").as("n"))
    cells.join(rowT, Seq("__a")).join(colT, Seq("__b"))
      .crossJoin(broadcast(grand))
      .withColumn("t", round(col("o") *
        log(col("o") / (col("ra") * col("cb") / col("n"))) * 1e6)
        .cast("long"))
      // floor convention (Exact.scala): 2t/100 is exact for integer
      // micro-nat t, so the 4dp half-case cannot split the engines
      .agg((floor(lit(2.0) * sum("t") / 100.0 + 0.5) / 1e4).as("g_stat"),
        ((countDistinct("__a") - 1) * (countDistinct("__b") - 1))
          .as("df"),
        max("n").as("n_total"))
  }

  /** BARTLETT's test of equal variances across k groups —
    * [[leveneTest]]'s higher-power (normality-assuming) sibling, the
    * pre-flight check before pooling variances in [[anovaF]]/
    * [[tukeyHsd]]: χ² = [(N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(Sᵢ²)]/C with the
    * standard small-sample correction C.
    *
    * Exactness: per-group variance numerators come from the integer-
    * cents power-sum trick ([[tukeyHsd]]'s ssw_q — rounded to an
    * integer unit per group, so the pooled Sp² is aggregation-order
    * free), and both order-sensitive sums — Σ(nᵢ−1)ln(Sᵢ²) and
    * Σ1/(nᵢ−1) — quantize per-group terms to integer micro/nano units
    * before summing. ONE corpus pass to the k-row frame; everything
    * after is 1-row arithmetic. */
  def bartlettTest(df: DataFrame, groupCol: String, c: String)
      : DataFrame = {
    val cents = round(col(c) * 100).cast("long")
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s1"),
        sum(cents * cents).as("s2"))
      // floor convention (Exact.scala): s1²/n is a RATIONAL — it
      // lands exactly on .5 whenever s1² ≡ n/2 (mod n), where engine
      // round() conventions diverge; floor of the identical IEEE
      // expression is bit-portable
      .withColumn("ssq",
        floor(col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") /
            col("n") + 0.5).cast("long"))
      .withColumn("s2i",
        col("ssq").cast("double") / lit(1e4) / (col("n") - 1))
    val t = g.agg(sum("n").as("nt"), count(lit(1)).as("k"),
      sum("ssq").as("ssw_q"),
      sum(round((col("n") - 1) * log(col("s2i")) * 1e6).cast("long"))
        .as("lnsum_u"),
      // 1e9/(n−1) is rational: exact .5 whenever (n−1) | 2·10⁹ with
      // an odd quotient (n−1 = 1024 → 976562.5) — floor convention
      sum(floor(lit(1e9) / (col("n") - 1) + 0.5).cast("long"))
        .as("invsum_n"))
    val sp2 = col("ssw_q").cast("double") / lit(1e4) /
      (col("nt") - col("k"))
    val corr = lit(1.0) +
      (col("invsum_n") / lit(1e9) -
        lit(1.0) / (col("nt") - col("k"))) /
        (lit(3.0) * (col("k") - 1))
    t.select(col("k"), col("nt").as("n_total"),
      (col("k") - 1).as("df"),
      round(((col("nt") - col("k")) * log(sp2) -
        col("lnsum_u") / lit(1e6)) / corr, 4).as("bartlett_chi2"))
  }

  /** Cramér's V effect size between two categorical columns —
    * √(χ²/(n·min(r−1, c−1))), the [0, 1]-normalized strength the raw
    * χ² statistic can't give you (χ² grows with n; V answers "HOW
    * associated", comparable across corpus sizes). Same scale shape as
    * [[chiSquare]]: one partial-agg pass to the contingency cells,
    * everything after lives on the category-cardinality grid. V is
    * derived from the UNROUNDED χ² (both engines build it from exact
    * integer counts by the same operation order), then both round. */
  def cramersV(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a).as("__a"), col(b).as("__b"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy("__a").agg(sum("o").as("ra"))
    val colT = cells.groupBy("__b").agg(sum("o").as("cb"))
    val grand = cells.agg(sum("o").as("n"))
    val e = col("ra") * col("cb") / col("n")
    rowT.crossJoin(colT)
      .join(cells, Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(grand))
      .agg(sum(pow(col("o") - e, 2) / e).as("__chi2"),
        countDistinct("__a").as("__ka"), countDistinct("__b").as("__kb"),
        max("n").as("n_total"))
      .select(
        round(sqrt(col("__chi2") /
          (col("n_total") * least(col("__ka") - 1, col("__kb") - 1))), 6)
          .as("cramers_v"),
        round(col("__chi2"), 4).as("chi2"),
        ((col("__ka") - 1) * (col("__kb") - 1)).as("df"),
        col("n_total"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between groups `ga` and
    * `gb`: D = max over x of |ECDF_a(x) − ECDF_b(x)| — the
    * distribution-shape A/B test that catches what a t-test on means
    * cannot (variance/shape shifts).
    *
    * Scale shape: ties collapse in one partial-agg pass (one row per
    * DISTINCT value with both groups' counts), then the global running
    * sum over value order is [[stripedPrefix]] on value-range stripes:
    * nothing ever serializes the distinct-value frame onto one task,
    * which a plain `Window.orderBy(v)` would. */
  def ksTest(df: DataFrame, groupCol: String, c: String,
             ga: String, gb: String): DataFrame =
    ecdfPair(df, groupCol, c, ga, gb)
      .agg(round(max(abs(col("fa") - col("fb"))), 6).as("d_stat"),
        max("__na").as("n_a"), max("__nb").as("n_b"))

  /** Distinct-value frame of the two-sample rank family: one row per
    * distinct value `v` of `c` over groups `ga`/`gb` with their counts
    * `ca`, `cb` and `t` = ca + cb, the value range `__lo`/`__hi` and
    * the group sizes `__na`/`__nb` on every row, plus `below_<s>` for
    * each of `sums` from [[stripedPrefix]] over value order. */
  private def twoSampleBelow(df: DataFrame, groupCol: String, c: String,
                             ga: String, gb: String,
                             sums: String*): DataFrame = {
    val pts = df.filter(col(groupCol).isin(ga, gb))
      .groupBy(col(c).as("v"))
      .agg(sum(when(col(groupCol) === ga, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === gb, 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    valueBelow(pts, sums, sum("ca").as("__na"), sum("cb").as("__nb"))
  }

  /** [[stripedPrefix]] of `sums` over ascending `v` on value-range
    * stripes: the 1-row bounds frame (`__lo`/`__hi` plus the caller's
    * `totals`) rides a broadcast onto every row. */
  private def valueBelow(pts: DataFrame, sums: Seq[String],
                         totals: Column*): DataFrame = {
    val bounds =
      pts.agg(min("v").as("__lo"), max("v").as("__hi") +: totals: _*)
    stripedPrefix(pts.crossJoin(broadcast(bounds)),
      valueStripe(col("v"), col("__lo"), col("__hi")), Seq(col("v")), sums)
  }

  /** The two inclusive ECDFs `fa`, `fb` at every distinct value — the
    * frame [[ksTest]] and [[kuiperTest]] take their maxima over. */
  private def ecdfPair(df: DataFrame, groupCol: String, c: String,
                       ga: String, gb: String): DataFrame =
    twoSampleBelow(df, groupCol, c, ga, gb, "ca", "cb")
      .select(((col("below_ca") + col("ca")) / col("__na")).as("fa"),
        ((col("below_cb") + col("cb")) / col("__nb")).as("fb"),
        col("__na"), col("__nb"))

  /** KUIPER'S two-sample statistic V = D⁺ + D⁻ — the
    * ROTATION-INVARIANT member of the ECDF family ([[ksTest]]'s D
    * collapses the two signed deviations into one |max|, which makes
    * it weak against shifts that push one tail up and the other down
    * — exactly what periodic/wrapped data does; Kuiper keeps both
    * excursions, so a distribution slid around a cycle scores the
    * same V wherever it is cut): D⁺ = max(Fₐ−F_b), D⁻ = max(F_b−Fₐ).
    * Same tie-collapsed [[stripedPrefix]] ECDFs as [[ksTest]] — the only
    * change is keeping the two signed maxima apart. */
  def kuiperTest(df: DataFrame, groupCol: String, c: String,
                 ga: String, gb: String): DataFrame =
    ecdfPair(df, groupCol, c, ga, gb)
      .agg(max(col("fa") - col("fb")).as("dp"),
        max(col("fb") - col("fa")).as("dm"),
        max("__na").as("na"), max("__nb").as("nb"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        round(greatest(col("dp"), lit(0.0)), 6).as("d_plus"),
        round(greatest(col("dm"), lit(0.0)), 6).as("d_minus"),
        round(greatest(col("dp"), lit(0.0)) +
          greatest(col("dm"), lit(0.0)), 6).as("v_stat"))

  /** COHEN'S H effect size between the [[md5Arm]] arms' conversion
    * rates — the PROPORTION-scale companion to st_cohens_d (a 2-point
    * lift means nothing without the base rate: 50→52% is noise,
    * 1→3% is a tripling; the arcsine transform h = 2asin√p₁ − 2asin√p₂
    * equalizes the variance across the base-rate range, which is why
    * power calculators speak h, not percentage points): conversion =
    * value ≥ `threshold`; rates from exact integer counts, one asin
    * formula row (trig at round-6 — the sp_haversine convention). */
  def cohensH(events: DataFrame, threshold: Double = 100.0)
      : DataFrame = {
    val cell = events.select(md5Arm(col("user_id")).as("arm"),
        (col("value") >= threshold).as("yes"))
      .groupBy("arm")
      .agg(sum(when(col("yes"), 1L).otherwise(0L)).as("k"),
        count(lit(1)).as("n"))
    val wide = cell.agg(
      max(when(col("arm") === "A", col("k"))).as("ka"),
      max(when(col("arm") === "A", col("n"))).as("na"),
      max(when(col("arm") === "B", col("k"))).as("kb"),
      max(when(col("arm") === "B", col("n"))).as("nb"))
    val pa = col("ka").cast("double") / col("na")
    val pb = col("kb").cast("double") / col("nb")
    wide.select(round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(lit(2.0) * asin(sqrt(pb)) - lit(2.0) * asin(sqrt(pa)), 6)
        .as("cohens_h"))
  }

  /** Two-sample ANDERSON–DARLING statistic between groups `ga` and
    * `gb` — the TAIL-WEIGHTED member of the ECDF family ([[ksTest]]
    * weights every x equally and is famously blind to tail
    * divergence; AD divides by H(1−H), so the same gap counts ~10×
    * more at the 1st/99th percentile than at the median — the right
    * default when the risk lives in the tails, e.g. latency or spend
    * distributions). Right-continuous tie-collapsed form (documented
    * contract, identical on both engines):
    * A² = (1/N)·Σⱼ lⱼ·(N·Maⱼ − na·Bⱼ)²/(Bⱼ(N−Bⱼ)) over distinct
    * pooled values with Bⱼ < N, where Maⱼ/Bⱼ are the inclusive
    * group-a/pooled cumulative counts and lⱼ the pooled tie count.
    *
    * Same [[stripedPrefix]] running counts as [[ksTest]] (ties
    * collapse in one partial-agg pass; nothing serializes the
    * distinct-value frame), and the same exactness discipline as
    * mannWhitneyU: Ma, B, l are exact longs on any partitioning, so
    * each value's term is one deterministic double formula,
    * 1e6-quantized BEFORE the cross-value sum (order-free longs) —
    * hash-identical to the oracle with no float-order tolerance. */
  def andersonDarling(df: DataFrame, groupCol: String, c: String,
                      ga: String, gb: String): DataFrame = {
    val nTot = col("__na") + col("__nb")
    val ma = col("below_ca") + col("ca")
    val b = col("below_t") + col("t")
    twoSampleBelow(df, groupCol, c, ga, gb, "ca", "t")
      .select(col("t"), col("__na"), col("__nb"),
        (nTot * ma - col("__na") * b).as("num"), b.as("b"),
        nTot.as("nt"))
      .filter(col("b") < col("nt"))
      .select(col("__na"), col("__nb"),
        round(col("t") * (col("num").cast("double") * col("num")) /
          (col("b").cast("double") * (col("nt") - col("b"))) /
          col("nt") * 1e6).cast("long").as("q6"))
      .groupBy("__na", "__nb")
      .agg(round(sum("q6").cast("double") / 1e6, 6).as("a2"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"), col("a2"))
  }

  /** WEIGHTED QUANTILES of `c` under integer weights `w` — the
    * survey-statistics primitive plain quantiles silently get wrong
    * whenever rows don't deserve equal say (a 50-unit line item is
    * fifty 1-unit observations of its price; revenue-weighted medians,
    * exposure-weighted latencies, token-weighted doc scores all reduce
    * to this): q_p = the smallest value whose CUMULATIVE weight
    * reaches p% of the total — the lower weighted quantile, an exact
    * integer-rank selection with no interpolation (engine-identical,
    * the ts_conformal rank discipline).
    *
    * [[stripedPrefix]] over the distinct-value frame (weights
    * partial-agg per value first);
    * the whole percentile ladder rides ONE broadcast of the tiny
    * (p, threshold) frame — selection is cw·100 ≥ W·p in exact long
    * arithmetic, one min per p. */
  def weightedQuantiles(df: DataFrame, c: String, w: String,
                        ps: Seq[Int] = Seq(25, 50, 75)): DataFrame = {
    val pts = df.groupBy(col(c).as("v"))
      .agg(sum(round(col(w)).cast("long")).as("t"))
    val ladder = ps.map(p => struct(lit(p.toLong).as("p")))
    valueBelow(pts, Seq("t"), sum("t").as("__w"))
      .select(col("v"), col("__w"), (col("below_t") + col("t")).as("cw"))
      .select(col("v"), col("__w"), col("cw"),
        explode(array(ladder: _*)).as("pp"))
      .filter(col("cw") * 100 >= col("__w") * col("pp.p"))
      .groupBy(col("pp.p").as("p"))
      .agg(min("v").as("wq"), max("__w").as("total_weight"))
  }

  /** MOOD'S MEDIAN TEST across ALL event-type groups — the
    * maximally-robust k-group location test (st_kruskal uses full rank
    * information and is more powerful, but its statistic moves with
    * ANY distribution change; Mood reduces each observation to one bit
    * — above the pooled median or not — so gross outliers and wild
    * tails cannot touch it, the right gate when the data is dirty):
    * pooled LOWER median (smallest v with cumcount ≥ ⌈N/2⌉ —
    * deterministic, no engine-specific quantile interpolation), then
    * the k×2 above/≤ contingency χ² on K−1 df.
    *
    * The median comes from [[stripedPrefix]] over the distinct values
    * (ties collapse first; nothing serializes the
    * distinct-value frame) and rides back as a 1-row broadcast; the
    * k×2 cells are one conditional-count pass of exact longs, each
    * group's χ² contribution 1e6-quantized before the cross-group sum
    * (order-free longs, the cmhTest discipline). */
  def moodMedian(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val pts = df.groupBy(col(c).as("v"))
      .agg(count(lit(1)).as("t"))
    val med = valueBelow(pts, Seq("t"), sum("t").as("__n"))
      .select(col("v"), (col("below_t") + col("t")).as("c"),
        ((col("__n") + 1) / 2).cast("long").as("k"))
      .filter(col("c") >= col("k"))
      .agg(min("v").as("med"))
    val cell = df.crossJoin(broadcast(med))
      .groupBy(col(groupCol).as("g"))
      .agg(sum(when(col(c) > col("med"), 1L).otherwise(0L)).as("a"),
        count(lit(1)).as("tot"), max("med").as("med"))
    val tots = cell.agg(sum("a").as("ta"), sum("tot").as("n"))
    val nD = col("n").cast("double")
    val ea = col("tot").cast("double") * col("ta") / nD
    val eb = col("tot").cast("double") * (col("n") - col("ta")) / nD
    val oa = col("a").cast("double")
    val ob = (col("tot") - col("a")).cast("double")
    cell.crossJoin(broadcast(tots))
      .select(col("med"), col("n"),
        round(((oa - ea) * (oa - ea) / ea +
          (ob - eb) * (ob - eb) / eb) * 1e6).cast("long").as("q6"))
      .groupBy("med", "n")
      .agg(count(lit(1)).as("k_groups"),
        round(sum("q6").cast("double") / 1e6, 6).as("chi2"))
      .select(col("n"), col("k_groups"), (col("k_groups") - 1).as("df"),
        col("med"), col("chi2"))
  }

  /** ANSARI–BRADLEY two-sample SCALE test between groups `ga` and `gb`
    * — "same center, different spread" detected by ranks alone (the
    * nonparametric sibling of st_levene/st_bartlett: no normality, no
    * moments, immune to the heavy tails that inflate variance-based
    * tests; the classic dispersion A/B check for latency or spend):
    * pool both samples, score each observation s = min(r, N+1−r) with
    * midranks (small scores at the extremes — group a scoring LOW
    * means it owns the tails, i.e. larger scale), AB = Σ_{i∈a} sᵢ,
    * z from the exact finite-population moments E = n₁·s̄,
    * Var = n₁n₂/(N(N−1))·Σ(sᵢ−s̄)² — the general form, so ties need
    * no special correction.
    *
    * Same [[stripedPrefix]] below-counts as [[mannWhitneyU]]; everything
    * stays INTEGER: doubled midranks mr2 = 2·below+t+1 are exact
    * longs, doubled scores s2 = min(mr2, 2(N+1)−mr2), and the three
    * sufficient sums (Σca·s2, Σt·s2, Σt·s2²) accumulate in
    * decimal(38,0) — AB is exact on any partitioning, one double
    * division at the close. */
  def ansariBradley(df: DataFrame, groupCol: String, c: String,
                    ga: String, gb: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val nTot = col("__na") + col("__nb")
    val mr2 = lit(2) * col("below_t") + col("t") + 1
    val s2 = least(mr2, lit(2) * (nTot + 1) - mr2)
    val agg = twoSampleBelow(df, groupCol, c, ga, gb, "t")
      .select(col("ca"), col("t"), col("__na"), col("__nb"),
        s2.as("s2"))
      .agg(max("__na").as("na"), max("__nb").as("nb"),
        sum((col("ca") * col("s2")).cast(dec)).as("ab2"),
        sum((col("t") * col("s2")).cast(dec)).as("ss2"),
        sum(col("t").cast(dec) * (col("s2") * col("s2")).cast(dec))
          .as("ss2sq"))
    val n = (col("na") + col("nb")).cast("double")
    val mean2 = col("ss2").cast("double") / n
    // Σ(s2ᵢ−s̄2)² = Σs2² − (Σs2)²/N, all from exact decimal sums
    val css = col("ss2sq").cast("double") -
      col("ss2").cast("double") * col("ss2").cast("double") / n
    val varAb2 = col("na").cast("double") * col("nb") / (n * (n - 1.0)) *
      css
    // doubled scores scale both the deviation and the sd by 2 — z is
    // the same statistic as on the half-integer scores
    agg.select(col("na").as("n_a"), col("nb").as("n_b"),
      (col("ab2").cast("double") / 2.0).as("ab"),
      round((col("ab2").cast("double") -
        col("na").cast("double") * mean2) /
        nullif(sqrt(varAb2), lit(0.0)), 6).as("z"))
  }

  /** BRUNNER–MUNZEL two-sample test between groups `ga` and `gb` —
    * the modern replacement for [[mannWhitneyU]] when the two
    * distributions may differ in SHAPE (MWU's variance assumes
    * exchangeability under H₀; with unequal variances its level is
    * wrong — the nonparametric Behrens–Fisher problem BM solves):
    * tests P(X<Y)+½P(X=Y) = ½ via placements Pᵢ = pooled midrank −
    * within-group midrank, W = n₁n₂(R̄₂−R̄₁)/(N·√(n₁S₁²+n₂S₂²)) with
    * Sⱼ² the placement variances; also reports the estimated
    * stochastic superiority p̂ = (R̄₂−(n₂+1)/2)/n₁ (an effect size on
    * its own).
    *
    * Same [[stripedPrefix]] below-counts as [[mannWhitneyU]], kept
    * INTEGER throughout: pooled and within-group doubled midranks are
    * exact longs per distinct value (all tied members share one
    * placement, so the placement sums and square-sums are weighted
    * rollups of the distinct-value frame in decimal(38,0)); W and p̂
    * are two double formulas at the close. */
  def brunnerMunzel(df: DataFrame, groupCol: String, c: String,
                    ga: String, gb: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val (ba, bb) = (col("below_ca"), col("below_cb"))
    // doubled midranks: pooled, within-a, within-b (exact longs)
    val mr2 = lit(2) * (ba + bb) + col("t") + 1
    val mra2 = lit(2) * ba + col("ca") + 1
    val mrb2 = lit(2) * bb + col("cb") + 1
    val agg = twoSampleBelow(df, groupCol, c, ga, gb, "ca", "cb")
      .select(col("ca"), col("cb"), col("__na"), col("__nb"),
        (mr2 - mra2).as("p2a"), (mr2 - mrb2).as("p2b"), mr2.as("mr2"))
      .agg(max("__na").as("na"), max("__nb").as("nb"),
        sum((col("ca") * col("mr2")).cast(dec)).as("sra"),
        sum((col("cb") * col("mr2")).cast(dec)).as("srb"),
        sum((col("ca") * col("p2a")).cast(dec)).as("spa"),
        sum(col("ca").cast(dec) *
          (col("p2a") * col("p2a")).cast(dec)).as("spa2"),
        sum((col("cb") * col("p2b")).cast(dec)).as("spb"),
        sum(col("cb").cast(dec) *
          (col("p2b") * col("p2b")).cast(dec)).as("spb2"))
    val (naD, nbD) = (col("na").cast("double"), col("nb").cast("double"))
    val nD = (col("na") + col("nb")).cast("double")
    val rbarA = col("sra").cast("double") / (lit(2.0) * naD)
    val rbarB = col("srb").cast("double") / (lit(2.0) * nbD)
    val v1 = (col("spa2").cast("double") -
      col("spa").cast("double") * col("spa").cast("double") / naD) /
      (lit(4.0) * (naD - 1.0))
    val v2 = (col("spb2").cast("double") -
      col("spb").cast("double") * col("spb").cast("double") / nbD) /
      (lit(4.0) * (nbD - 1.0))
    agg.select(col("na").as("n_a"), col("nb").as("n_b"),
      round((rbarB - (nbD + 1.0) / 2.0) / naD, 6).as("p_hat"),
      round(naD * nbD * (rbarB - rbarA) /
        nullif(nD * sqrt(naD * v1 + nbD * v2), lit(0.0)), 6).as("bm_w"))
  }

  /** YUEN'S TRIMMED-MEAN t-TEST between groups `ga` and `gb` — the
    * robust location test that keeps the t-test's QUESTION while
    * dropping its fragility (st_mwu answers a different question —
    * stochastic ordering; Yuen still compares central tendencies, but
    * 20%-trimmed means with winsorized variances, so a handful of wild
    * values cannot buy or kill significance): t = (m̄t₁−m̄t₂)/√(d₁+d₂)
    * with dⱼ = SSD_winsorized/(hⱼ(hⱼ−1)), h = n−2g, g = ⌊0.2n⌋.
    *
    * Exact rank algebra on the micro-quantized value grid: the striped
    * per-group cumulative counts give every distinct value its rank
    * interval, the trimmed interior weight is an INTEGER interval
    * overlap, the two winsorization boundary values are exact rank
    * selections (the st_wquantile discipline), and all sums live in
    * decimal(38,0) — the statistic is a one-row double formula over
    * exact integers. One corpus rollup; everything after is
    * distinct-value-sized. */
  def yuenTTest(df: DataFrame, groupCol: String, c: String,
                ga: String, gb: String, trim: Double = 0.2): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val micro = df.select(col(groupCol),
      round(col(c) * 1e6).cast("long").as("q"))
    val cum = twoSampleBelow(micro, groupCol, "q", ga, gb, "ca", "cb")
      .select(col("v").as("q"), col("ca"), col("cb"), col("__na"),
        col("__nb"), col("below_ca").as("ba"), col("below_cb").as("bb"))
      .localCheckpoint(true)
    // per group: g = floor(trim*n), interior ranks [g+1, n-g]
    def side(n: Column, below: Column, cnt: Column) = {
      val gTrim = floor(n.cast("double") * trim).cast("long")
      val lo = gTrim + 1
      val hi = n - gTrim
      val w = greatest(lit(0L),
        least(hi, below + cnt) - greatest(lo, below + 1) + 1)
      (gTrim, lo, hi, w)
    }
    val (gA, loA, hiA, wA) = side(col("__na"), col("ba"), col("ca"))
    val (gB, loB, hiB, wB) = side(col("__nb"), col("bb"), col("cb"))
    val sums = cum.agg(max("__na").as("na"), max("__nb").as("nb"),
      sum(wA.cast(dec) * col("q").cast(dec)).as("sa"),
      sum(wA.cast(dec) * col("q").cast(dec) * col("q").cast(dec))
        .as("sa2"),
      sum(wB.cast(dec) * col("q").cast(dec)).as("sb"),
      sum(wB.cast(dec) * col("q").cast(dec) * col("q").cast(dec))
        .as("sb2"),
      min(when(col("ba") + col("ca") >= loA, col("q"))).as("qloa"),
      min(when(col("ba") + col("ca") >= hiA, col("q"))).as("qhia"),
      min(when(col("bb") + col("cb") >= loB, col("q"))).as("qlob"),
      min(when(col("bb") + col("cb") >= hiB, col("q"))).as("qhib"))
    def stat(n: String, s: String, s2: String, qlo: String,
             qhi: String) = {
      val nD = col(n).cast("double")
      val gT = floor(nD * trim)
      val h = nD - lit(2.0) * gT
      // winsorized sum / sum-of-squares add g copies of each boundary
      val sw = col(s).cast("double") + gT * col(qlo) + gT * col(qhi)
      val sw2 = col(s2).cast("double") +
        gT * (col(qlo).cast("double") * col(qlo)) +
        gT * (col(qhi).cast("double") * col(qhi))
      val ssd = sw2 - sw * sw / nD
      val tm = col(s).cast("double") / h / 1e6
      val d = ssd / (h * (h - 1.0)) / 1e12
      (tm, d, h)
    }
    val (tmA, dA, hA) = stat("na", "sa", "sa2", "qloa", "qhia")
    val (tmB, dB, hB) = stat("nb", "sb", "sb2", "qlob", "qhib")
    sums.select(col("na").as("n_a"), col("nb").as("n_b"),
      hA.cast("long").as("h_a"), hB.cast("long").as("h_b"),
      round(tmA, 6).as("tmean_a"), round(tmB, 6).as("tmean_b"),
      round((tmA - tmB) / nullif(sqrt(dA + dB), lit(0.0)), 4)
        .as("yuen_t"))
  }

  /** GRUBBS' outlier statistic on the hourly click series — "is the
    * single worst hour a statistical outlier or just the tail of the
    * same distribution" (ts_anomaly z-scores every point against a
    * ROLLING window; Grubbs asks the global question about the one
    * maximum deviation, the formal version of eyeballing the worst
    * spike): G = max|vᵢ−v̄|/s with the sample standard deviation.
    *
    * Exactness: hourly means quantize to micro-unit longs; the max
    * deviation is max|n·vᵢ − Σv| — an EXACT long comparison on any
    * partitioning (no float max of near-equal doubles), the argmax
    * hour ties to the earliest; moments accumulate in decimal(38,0)
    * and G is one double formula at the close. One rollup shuffle to
    * the calendar-bounded hourly frame, one broadcast-back scan. */
  def grubbs(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val m = hourly.agg(count(lit(1)).as("n"),
      sum(col("v").cast(dec)).as("sv"),
      sum(col("v").cast(dec) * col("v").cast(dec)).as("svv"))
    val dev = col("n") * col("v") - col("sv").cast("long")
    val scored = hourly.crossJoin(broadcast(m))
      .select(col("hr"), col("n"), col("sv"), col("svv"),
        abs(dev).as("adev"))
    val top = scored.agg(max("adev").as("maxdev"))
    val n = col("n").cast("double")
    val sd = sqrt((n * col("svv").cast("double") -
      col("sv").cast("double") * col("sv").cast("double")) /
      (n * (n - 1.0)))
    scored.crossJoin(broadcast(top))
      .filter(col("adev") === col("maxdev"))
      .groupBy("n", "sv", "svv", "maxdev")
      .agg(min("hr").as("t_star"))
      .select(col("n"), col("t_star"),
        round(col("maxdev").cast("double") / n / nullif(sd, lit(0.0)),
          6).as("g"))
  }

  /** Count-min-sketch frequency report, SKETCH-ONLY (r9): one
    * distributed pass builds a MERGEABLE CMS over `c`
    * (graft.functions.CmsAggregator — map-side partial merges,
    * O(depth·width) state total), and the report answers a
    * CALLER-SUPPLIED probe list against the finished sketch. Only the
    * sketch (a few KB, parameter-sized) and the probe-sized hash frame
    * ever leave the cluster — never a value-cardinality frame, which
    * the pre-r9 form collected and which is unbounded on an open key
    * domain at 100 TB. Probes hash through the SAME xxhash64 Column
    * the sketch ingested (computed in a probe-sized DataFrame so the
    * hash definition cannot fork between build and probe). Exact
    * counts exist only in the spec, which recomputes them
    * independently to lock the one-sided error property
    * (exact ≤ est ≤ exact + εN). */
  def cmsFrequencies(df: DataFrame, c: String, probes: Seq[String],
                     depth: Int = 5, width: Int = 2048): DataFrame = {
    import graft.functions.CmsAggregator
    val spark = df.sparkSession
    import spark.implicits._
    // 60-bit item key = first 15 hex chars of md5 — engine-portable
    // (DuckDB: ('0x' || substr(md5(v),1,15))::BIGINT), so together with
    // the Carter-Wegman cell family the WHOLE sketch is pure integer
    // arithmetic a SQL CTE can rebuild from per-value exact counts —
    // the r12 rows-only → hash-checked flip (oracleSql("st_cms"))
    val key = conv(substring(md5(col(c)), 1, 15), 16, 10).cast("long")
    val sk = df.agg(CmsAggregator.cms(depth, width)(key).as("sk"))
      .head().getAs[scala.collection.Seq[Long]]("sk").toArray
    val hashed = probes.toDF("value")
      .withColumn("__h",
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long"))
      .collect()
    hashed.toSeq.map(r => (r.getAs[String]("value"),
        CmsAggregator.estimate(sk, depth, width, r.getAs[Long]("__h"))))
      .toDF("value", "estimate")
      .orderBy("value")
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between groups `ga` and `gb` —
    * the nonparametric A/B test (median shift without normality
    * assumptions), with the tie-corrected normal approximation z.
    *
    * Same [[stripedPrefix]] pass as [[ksTest]], but the quantity
    * is the EXCLUSIVE running count of observations below each distinct
    * value, giving every value's average rank: ar(v) = below(v) +
    * (t+1)/2. The whole statistic stays in INTEGER arithmetic until the
    * final division — 2·R1 = Σ ca·(2·below + t + 1) is an exact long on
    * any engine and any partitioning, so U is bit-identical to the
    * oracle with no rounding tolerance. Tie correction sums t³−t per
    * distinct value (longs; a single value class above ~2M rows needs
    * the correction term widened — loud ANSI overflow, not silent). */
  def mannWhitneyU(df: DataFrame, groupCol: String, c: String,
                   ga: String, gb: String): DataFrame = {
    val s = rankSumAgg(df, groupCol, c, ga, gb)
    val u = (col("r1x2") - col("na") * (col("na") + 1)) / 2.0
    val n = col("na") + col("nb")
    val varU = col("na") * col("nb") / 12.0 *
      ((n + 1) - col("ties") / n / (n - 1.0))
    s.select(u.as("u_stat"),
      round((u - col("na") * col("nb") / 2.0) / sqrt(varU), 4).as("z"),
      col("na").as("n_a"), col("nb").as("n_b"))
  }

  /** ROC-AUC of a numeric score separating two classes — "does n_chars
    * rank `ga` docs above `gb` docs", the threshold-free classifier
    * metric. AUC ≡ U/(na·nb) with midrank tie handling, so this reuses
    * [[mannWhitneyU]]'s striped exact-integer rank machinery verbatim
    * (same zero-rounding-tolerance guarantee: U is integer-exact, one
    * division at the end). */
  def auc(df: DataFrame, groupCol: String, c: String,
          ga: String, gb: String): DataFrame = {
    val s = rankSumAgg(df, groupCol, c, ga, gb)
    val u = (col("r1x2") - col("na") * (col("na") + 1)) / 2.0
    s.select(round(u / (col("na") * col("nb")), 6).as("auc"),
      col("na").as("n_pos"), col("nb").as("n_neg"))
  }

  /** LIN'S CONCORDANCE correlation (CCC) between the paired hourly
    * series — AGREEMENT for continuous measurements ([[cohensKappa]]'s
    * numeric sibling; Pearson r is blind to scale and shift, so two
    * instruments reading 2x apart still correlate 1.0 — CCC penalizes
    * both: ρc = 2·cov/(σx²+σy²+(μx−μy)²)). One pass over the aligned
    * hourly frame to the five moments, one 1-row formula, round 6. */
  def linCcc(events: DataFrame, typeA: String = "click",
             typeB: String = "view"): DataFrame = {
    val hourly = Resample.alignedHourly(events, typeA, typeB)
    val m = hourly.agg(count(lit(1)).as("n"),
      avg("x").as("mx"), avg("y").as("my"),
      var_pop(col("x")).as("vx"), var_pop(col("y")).as("vy"),
      covar_pop(col("x"), col("y")).as("cxy"))
    m.select(col("n"),
      round(col("cxy") /
        nullif(sqrt(col("vx") * col("vy")), lit(0.0)), 6).as("pearson"),
      round(lit(2.0) * col("cxy") /
        nullif(col("vx") + col("vy") +
          (col("mx") - col("my")) * (col("mx") - col("my")), lit(0.0)),
        6).as("ccc"))
  }

  /** BLAND–ALTMAN limits of agreement for the paired hourly series —
    * the method-comparison companion of [[linCcc]] (CCC scores
    * agreement with one number; Bland–Altman says WHERE disagreement
    * lives: the mean bias and the ±1.96σ band a new measurement pair
    * should fall in): one pass over the aligned frame for the
    * difference moments, one 1-row formula. */
  def blandAltman(events: DataFrame, typeA: String = "click",
                  typeB: String = "view"): DataFrame = {
    val m = Resample.alignedHourly(events, typeA, typeB)
      .agg(count(lit(1)).as("n"),
        avg(col("x") - col("y")).as("bias"),
        stddev_samp(col("x") - col("y")).as("sd"))
    m.select(col("n"), round(col("bias"), 6).as("bias"),
      round(col("sd"), 6).as("sd_diff"),
      round(col("bias") - lit(1.96) * col("sd"), 6).as("loa_lower"),
      round(col("bias") + lit(1.96) * col("sd"), 6).as("loa_upper"))
  }

  /** PAIRED t-test over the aligned hourly series — the inference
    * member of the agreement family ([[blandAltman]] describes the
    * bias band; this asks whether the bias is REAL): pairing each
    * hour's click mean with the SAME hour's view mean cancels the
    * hour-of-day effect both series share, so the test runs on the
    * differences — t = d̄/(s_d/√n), df = n−1. Same one-shuffle aligned
    * frame, one moment pass, 1-row formula. */
  def pairedTTest(events: DataFrame, typeA: String = "click",
                  typeB: String = "view"): DataFrame = {
    val m = Resample.alignedHourly(events, typeA, typeB)
      .agg(count(lit(1)).as("n"),
        avg(col("x") - col("y")).as("md"),
        stddev_samp(col("x") - col("y")).as("sd"))
    m.select(col("n"), (col("n") - 1).as("df"),
      round(col("md"), 6).as("mean_diff"),
      round(col("md") /
        nullif(col("sd") / sqrt(col("n").cast("double")), lit(0.0)), 4)
        .as("t"))
  }

  /** COHEN'S KAPPA from a (true, predicted, count) confusion matrix —
    * chance-corrected agreement (raw accuracy flatters any classifier
    * on a skewed label mix; κ subtracts the agreement the marginals
    * would produce by luck): po = diagonal mass, pe = Σ row·col
    * marginal products, κ = (po−pe)/(1−pe). Generic over ANY confusion
    * frame (ml_nb's eval, inter-annotator tables, drift monitors);
    * all arithmetic runs on the classes²-sized frame, exact integers
    * to the final ratios. Degenerate matrices (pe = 1: a single class
    * everywhere) null out. */
  def cohensKappa(cmIn: DataFrame, trueCol: String, predCol: String,
                  nCol: String): DataFrame = {
    // the confusion frame is classes²-sized but its LINEAGE may be a
    // full corpus train+score pipeline (ml_nb); this method fans it
    // into 3 aggregation branches, so materialize the k×k frame ONCE
    // (r9 driver bench: 12.7 s → the pipeline price, not 3×)
    val cm = cmIn.localCheckpoint(true)
    val tot = cm.agg(sum(nCol).as("nt"),
      sum(when(col(trueCol) === col(predCol), col(nCol))
        .otherwise(0L)).as("diag"))
    val rowT = cm.groupBy(col(trueCol).as("k"))
      .agg(sum(nCol).as("rt"))
    val colT = cm.groupBy(col(predCol).as("k"))
      .agg(sum(nCol).as("ct"))
    val pe = rowT.join(colT, "k")
      .agg(sum(col("rt") * col("ct")).as("rc"))
    tot.crossJoin(broadcast(pe))
      .select(col("nt").as("n"),
        round(col("diag") / col("nt").cast("double"), 6).as("po"),
        round(col("rc") / (col("nt").cast("double") * col("nt")), 6)
          .as("pe"),
        round((col("diag") / col("nt").cast("double") -
          col("rc") / (col("nt").cast("double") * col("nt"))) /
          nullif(lit(1.0) -
            col("rc") / (col("nt").cast("double") * col("nt")),
            lit(0.0)), 6).as("kappa"))
  }

  /** Multiclass MATTHEWS correlation (the Rₖ statistic) over a
    * confusion frame — the single-number companion to [[cohensKappa]]
    * that stays honest under CLASS IMBALANCE (accuracy and even kappa
    * flatter a majority-class guesser; MCC only scores high when every
    * class is predicted well): Rₖ = (c·s − Σₖpₖtₖ) /
    * √((s²−Σpₖ²)·(s²−Σtₖ²)). Everything is exact integer arithmetic
    * on the class-count-sized marginal frames until the final
    * division; degenerate denominators (single-class truth or
    * prediction) null out rather than crash. */
  def mccMulticlass(cmIn: DataFrame, trueCol: String, predCol: String,
                    nCol: String): DataFrame = {
    // 3-branch fan-out over a possibly corpus-lineage cm — see
    // cohensKappa; materialize the k×k frame once
    val cm = cmIn.localCheckpoint(true)
    val tot = cm.agg(sum(nCol).as("s"),
      sum(when(col(trueCol) === col(predCol), col(nCol))
        .otherwise(0L)).as("c"),
      countDistinct(trueCol).as("n_classes"))
    val rowT = cm.groupBy(col(trueCol).as("k")).agg(sum(nCol).as("t"))
    val colT = cm.groupBy(col(predCol).as("k")).agg(sum(nCol).as("p"))
    val cross = rowT.join(colT, Seq("k"), "full")
      .na.fill(0L, Seq("t", "p"))
      .agg(sum(col("p") * col("t")).as("pt"),
        sum(col("p") * col("p")).as("pp"),
        sum(col("t") * col("t")).as("tt"))
    tot.crossJoin(broadcast(cross))
      .select(col("n_classes"), col("s").as("n_total"),
        round((col("c") * col("s") - col("pt")).cast("double") /
          nullif(sqrt((col("s") * col("s") - col("pp")).cast("double") *
            (col("s") * col("s") - col("tt")).cast("double")),
            lit(0.0)), 6).as("mcc"))
  }

  /** PER-CLASS classifier report over a confusion frame (true, pred,
    * n) — the standard precision / recall / F1 / support table next to
    * [[cohensKappa]]'s single agreement number (kappa says "better than
    * chance"; this says WHICH class eats the errors). All three metrics
    * collapse to exact-integer identities before the one division each
    * — in particular F1 = 2·TP/(rowTotal+colTotal), never the
    * float-harmonic of two already-rounded ratios — so the report is
    * bit-stable across engines and partitionings. Overall accuracy
    * rides every row from a 1-row broadcast. The frame is classes²-
    * sized; everything here is report-scale arithmetic. */
  def classifierReport(cmIn: DataFrame, trueCol: String, predCol: String,
                       nCol: String): DataFrame = {
    // 4-branch fan-out (rowT/colT/diag/overall): whether ReuseExchange
    // dedupes them is environment-dependent (r9 driver bench paid the
    // NB pipeline 2.2×) — materialize the k×k frame once
    val cm = cmIn.localCheckpoint(true)
    val rowT = cm.groupBy(col(trueCol).as("cls"))
      .agg(sum(nCol).as("support"))
    val colT = cm.groupBy(col(predCol).as("cls"))
      .agg(sum(nCol).as("predicted"))
    val diag = cm.filter(col(trueCol) === col(predCol))
      .groupBy(col(trueCol).as("cls")).agg(sum(nCol).as("tp"))
    val overall = cm.agg(sum(nCol).as("nt"),
      sum(when(col(trueCol) === col(predCol), col(nCol)).otherwise(0L))
        .as("ndiag"))
    rowT.join(colT, Seq("cls"), "full")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("predicted"), lit(0L)).as("predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .crossJoin(broadcast(overall))
      .select(col("cls"), col("support"), col("predicted"), col("tp"),
        round(col("tp").cast("double") /
          nullif(col("predicted").cast("double"), lit(0.0)), 6)
          .as("precision"),
        round(col("tp").cast("double") /
          nullif(col("support").cast("double"), lit(0.0)), 6)
          .as("recall"),
        round(lit(2.0) * col("tp") /
          nullif((col("support") + col("predicted")).cast("double"),
            lit(0.0)), 6).as("f1"),
        round(col("ndiag").cast("double") / col("nt"), 6).as("accuracy"))
  }

  /** CALIBRATION report + Brier score + ECE for a probabilistic binary
    * classifier — "when the model says 0.8, does it happen 80% of the
    * time": rows bin by predicted score into 10 fixed-width bins; each
    * bin reports confidence (mean score) vs outcome (positive rate),
    * and the two headline scalars ride every row — Brier = mean
    * (score−y)² (proper scoring rule) and ECE = Σ nᵇ/N·|acc_b−conf_b|
    * (the reliability-diagram gap). The model-quality gate that AUC
    * (st_auc ranks) cannot give: a perfectly-ranked model can still be
    * badly calibrated, and calibration is what thresholded decisions
    * and expected-cost estimates consume.
    *
    * Engine-stable by the quantize-before-cross-row-sum discipline:
    * per-row score, (score−y)² and the per-bin ECE contribution are
    * deterministic doubles quantized to 1e6/1e9 integers BEFORE any
    * order-dependent sum; bins are ≤ 10 rows; one partial-agg pass
    * over the data, report-sized joins after. */
  def calibrationReport(df: DataFrame, score: Column, label: Column)
      : DataFrame = {
    val q = df.select(score.as("score"), label.cast("int").as("y"))
      .select(floor(col("score") * 10).cast("int").as("bin"), col("y"),
        round(col("score") * 1000000).cast("long").as("sq"),
        round((col("score") - col("y")) * (col("score") - col("y"))
          * 1000000).cast("long").as("bq"))
    val b = q.groupBy("bin").agg(count(lit(1)).as("n"),
      sum("y").cast("long").as("n_pos"), sum("sq").as("ssum"))
    val g = q.agg(count(lit(1)).as("nt"), sum("bq").as("bsum"))
    val bb = b.crossJoin(broadcast(g))
      .withColumn("eq",
        round(abs(col("n_pos").cast("double") / col("n") -
          col("ssum").cast("double") / (col("n") * 1000000.0)) *
          col("n") * 1000000000.0 / col("nt")).cast("long"))
    bb.crossJoin(broadcast(bb.agg(sum("eq").as("esum"))))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("ssum").cast("double") / (col("n") * 1000000.0), 6)
          .as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"),
        round(col("bsum").cast("double") / (col("nt") * 1000000.0), 6)
          .as("brier"),
        // floor convention (Exact.scala): esum/1000 exact for integer
        // nano-sums — 6dp round of a 9dp grid is the half-case
        (floor(col("esum").cast("double") / 1000.0 + 0.5) / 1e6)
          .as("ece"))
  }

  /** ISOTONIC CALIBRATION of the binned reliability curve (r9) — the
    * FIX for what [[calibrationReport]] only measures: pool-adjacent-
    * violators projects the per-bin positive rates onto the monotone
    * cone (a well-calibrated score must be non-decreasing in the
    * score), giving the classic isotonic-regression recalibration map
    * (Zadrozny & Elkan). EXACT end to end: each block's value is the
    * rational Σpos/Σn, and the violation test cross-multiplies longs
    * (pᵢ·nⱼ > pⱼ·nᵢ) — no float enters until the final display
    * division, and the isotonic L2 projection is UNIQUE, so any
    * correct merge order (the driver's stack scan, the oracle's
    * first-violator recursion) lands on identical numbers. One
    * partial-agg pass to the ≤10-bin frame; the PAVA runs driver-side
    * on those ≤10 rows (parameter-sized scalar class). */
  def isotonicCalibration(df: DataFrame, score: Column, label: Column)
      : DataFrame = {
    val bins = df
      .select(floor(score * 10).cast("int").as("bin"),
        label.cast("int").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").cast("long").as("p"))
      .orderBy("bin").collect()
      .map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n"),
        r.getAs[Long]("p")))
    // stack PAVA over exact integers
    case class Blk(n: Long, p: Long, bins: List[(Int, Long, Long)])
    val stack = scala.collection.mutable.ArrayBuffer[Blk]()
    for ((bin, n, p) <- bins) {
      stack += Blk(n, p, List((bin, n, p)))
      while (stack.length >= 2 && {
        val a = stack(stack.length - 2); val b = stack.last
        a.p * b.n > b.p * a.n // frac(a) > frac(b) exactly
      }) {
        val b = stack.remove(stack.length - 1)
        val a = stack.remove(stack.length - 1)
        stack += Blk(a.n + b.n, a.p + b.p, a.bins ++ b.bins)
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    // HALF-UP display rounding (not rint's half-even): block ratios
    // are small-denominator rationals that DO land on exact .5 ulps at
    // 6dp (73/128 = 0.5703125 here), where rint and the oracle's
    // round() disagree; floor(x·10⁶ + 0.5) is half-up for these
    // non-negative values, matching round(x, 6) on any engine
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    stack.toSeq.flatMap(blk => blk.bins.map { case (bin, n, p) =>
      (bin, n, p, r6(p.toDouble / n),
        r6(blk.p.toDouble / blk.n))
    }).toDF("bin", "n", "n_pos", "frac_pos", "iso_frac")
  }

  /** FAIRNESS slice audit at a fixed decision threshold — the
    * equalized-odds / demographic-parity report a model eval needs
    * beyond [[classifierReport]]'s aggregate view: per slice, the
    * exact confusion at the shipped cutoff plus the TPR/FPR/positive-
    * rate GAPS against the global rates (equalized odds = TPR and FPR
    * gaps ≈ 0; demographic parity = positive-rate gap ≈ 0 — both
    * reported, the tension between them is the finding). ONE
    * conditional-count pass to the slice frame; the global row rides
    * back as a 1-row broadcast; every rate divides exact longs. */
  def fairnessSlices(df: DataFrame, slice: Column, score: Column,
                     label: Column, threshold: Double = 0.5)
      : DataFrame = {
    val base = df.select(slice.as("slice"), score.as("s"),
      label.cast("int").as("y"))
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val per = base.groupBy("slice").agg(
      count(lit(1)).as("n"), cnt(col("y") === 1).as("np"),
      cnt(col("s") >= threshold && col("y") === 1).as("tp"),
      cnt(col("s") >= threshold && col("y") === 0).as("fp"))
    val g = base.agg(
      count(lit(1)).as("gn"), cnt(col("y") === 1).as("gnp"),
      cnt(col("s") >= threshold && col("y") === 1).as("gtp"),
      cnt(col("s") >= threshold && col("y") === 0).as("gfp"))
    def rate(num: Column, den: Column) =
      num.cast("double") / nullif(den.cast("double"), lit(0.0))
    val tpr = rate(col("tp"), col("np"))
    val fpr = rate(col("fp"), col("n") - col("np"))
    val pr = rate(col("tp") + col("fp"), col("n"))
    val gtpr = rate(col("gtp"), col("gnp"))
    val gfpr = rate(col("gfp"), col("gn") - col("gnp"))
    val gpr = rate(col("gtp") + col("gfp"), col("gn"))
    per.crossJoin(broadcast(g))
      .select(col("slice"), col("n"), col("np"),
        round(tpr, 6).as("tpr"), round(fpr, 6).as("fpr"),
        round(pr, 6).as("positive_rate"),
        round(tpr - gtpr, 6).as("tpr_gap"),
        round(fpr - gfpr, 6).as("fpr_gap"),
        round(pr - gpr, 6).as("parity_gap"))
  }

  /** COST-SENSITIVE threshold choice over the same fixed ladder as
    * [[rocLadder]] — Youden's J weighs errors equally, but shipping a
    * classifier means pricing them (a missed positive usually costs
    * more than a false alarm): expected cost = c_fn·FN + c_fp·FP per
    * threshold, best = argmin (ties → larger threshold, total order).
    * Costs stay in exact integer units (counts × integer costs), ONE
    * corpus scan via the same conditional-sum ladder. */
  def costThreshold(df: DataFrame, score: Column, label: Column,
                    cFn: Long = 5L, cFp: Long = 1L,
                    thresholds: Seq[Double] =
                      (1 to 9).map(_ / 10.0)): DataFrame = {
    val base = df.select(score.as("s"), label.cast("int").as("y"))
    val aggCols =
      Seq(sum(col("y").cast("long")).as("np"), count(lit(1)).as("n")) ++
      thresholds.map(t =>
        sum(when(col("s") >= t && col("y") === 1, 1L).otherwise(0L))
          .as(s"tp_${(t * 10).round}")) ++
      thresholds.map(t =>
        sum(when(col("s") >= t && col("y") === 0, 1L).otherwise(0L))
          .as(s"fp_${(t * 10).round}"))
    val agg = base.agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(true)
    val perT = thresholds.map { t =>
      val tp = col(s"tp_${(t * 10).round}")
      val fp = col(s"fp_${(t * 10).round}")
      agg.select(lit(t).as("threshold"),
        fp.as("fp"), (col("np") - tp).as("fn"),
        (lit(cFn) * (col("np") - tp) + lit(cFp) * fp).as("cost"))
    }.reduce(_ unionByName _)
    val best = perT.agg(min(struct(col("cost"),
      (-col("threshold")).as("nt"))).as("b"))
      .select(col("b.cost").as("bc"), (-col("b.nt")).as("bt"))
    perT.crossJoin(broadcast(best))
      .select(col("threshold"), col("fp"), col("fn"), col("cost"),
        (col("threshold") === col("bt")).as("is_best"))
  }

  /** ROC ladder + Youden's J for a probabilistic binary score — the
    * THRESHOLD-choosing companion to st_auc (AUC ranks the model;
    * shipping one needs a cutoff): at each fixed threshold the exact
    * confusion counts give TPR/FPR/precision, J = TPR − FPR marks the
    * best operating point (flagged on its row). Exact integer counts
    * per threshold (one conditional-aggregate pass over the corpus —
    * thresholds are a literal ladder, so this is ONE scan with k
    * conditional sums, not k scans), divisions at the close. */
  def rocLadder(df: DataFrame, score: Column, label: Column,
                thresholds: Seq[Double] =
                  (1 to 9).map(_ / 10.0)): DataFrame = {
    val base = df.select(score.as("s"), label.cast("int").as("y"))
    val aggCols =
      Seq(sum(col("y").cast("long")).as("np"), count(lit(1)).as("n")) ++
      thresholds.map(t =>
        sum(when(col("s") >= t && col("y") === 1, 1L).otherwise(0L))
          .as(s"tp_${(t * 10).round}")) ++
      thresholds.map(t =>
        sum(when(col("s") >= t && col("y") === 0, 1L).otherwise(0L))
          .as(s"fp_${(t * 10).round}"))
    val agg = base.agg(aggCols.head, aggCols.tail: _*)
      // ONE corpus scan: the 1-row count frame materializes before the
      // per-threshold union fans out (else each union branch would
      // re-run the aggregate — k scans instead of one)
      .localCheckpoint(true)
    val perT = thresholds.map { t =>
      agg.select(lit(t).as("threshold"),
        col(s"tp_${(t * 10).round}").as("tp"), col(s"fp_${(t * 10).round}").as("fp"),
        (col("np") - col(s"tp_${(t * 10).round}")).as("fn"),
        (col("n") - col("np") - col(s"fp_${(t * 10).round}")).as("tn"),
        round(col(s"tp_${(t * 10).round}").cast("double") /
          nullif(col("np").cast("double"), lit(0.0)), 6).as("tpr"),
        round(col(s"fp_${(t * 10).round}").cast("double") /
          nullif((col("n") - col("np")).cast("double"), lit(0.0)), 6)
          .as("fpr"),
        round(col(s"tp_${(t * 10).round}").cast("double") /
          nullif((col(s"tp_${(t * 10).round}") + col(s"fp_${(t * 10).round}")).cast("double"),
            lit(0.0)), 6).as("precision"),
        round(col(s"tp_${(t * 10).round}").cast("double") /
          nullif(col("np").cast("double"), lit(0.0)) -
          col(s"fp_${(t * 10).round}").cast("double") /
          nullif((col("n") - col("np")).cast("double"), lit(0.0)), 6)
          .as("youden_j"))
    }.reduce(_ unionByName _)
    val best = perT.agg(max(struct(col("youden_j"), col("threshold")))
      .getField("threshold").as("best_t"))
    perT.crossJoin(broadcast(best))
      .withColumn("is_best", col("threshold") === col("best_t"))
      .drop("best_t")
  }

  /** TOST equivalence test (two one-sided tests) — the inference
    * [[welchTTest]] cannot give: failing to reject "different" is NOT
    * evidence of "same"; TOST flips the burden and asks whether the
    * difference is provably INSIDE ±margin (the A/B "safe to ship the
    * cheaper variant" question). Same one-pass Welch moments; t_lower
    * tests diff > −margin, t_upper tests diff < +margin; equivalence
    * holds when BOTH one-sided tests clear the z threshold (normal
    * approximation at these df — documented). Margin and threshold are
    * caller policy, shipped as literals into one 1-row formula. */
  def tostEquivalence(df: DataFrame, groupCol: String, c: String,
                      ga: String, gb: String, margin: Double,
                      zCrit: Double = 1.6449): DataFrame = {
    val stats = df.filter(col(groupCol).isin(ga, gb))
      .groupBy(groupCol).agg(count(col(c)).as("n"), avg(col(c)).as("m"),
        var_samp(col(c)).as("v"))
    val a = stats.filter(col(groupCol) === ga)
      .select(col("n").as("na"), col("m").as("ma"), col("v").as("va"))
    val b = stats.filter(col(groupCol) === gb)
      .select(col("n").as("nb"), col("m").as("mb"), col("v").as("vb"))
    val se = sqrt(col("va") / col("na") + col("vb") / col("nb"))
    val diff = col("ma") - col("mb")
    val tLo = (diff + lit(margin)) / nullif(se, lit(0.0))
    val tHi = (lit(margin) - diff) / nullif(se, lit(0.0))
    a.crossJoin(b).select(
      col("na"), col("nb"),
      round(diff, 6).as("diff"), round(se, 6).as("se"),
      round(tLo, 4).as("t_lower"), round(tHi, 4).as("t_upper"),
      (tLo > zCrit && tHi > zCrit).as("equivalent"))
  }

  /** AVERAGE PRECISION (area under the precision–recall curve, tie-
    * grouped step form) — the ranking metric that matters when the
    * positive class is RARE ([[auc]]'s ROC view is blind to base rate;
    * PR is what retrieval and filter-model evals report): rank by
    * score descending, AP = Σ over distinct scores of
    * ΔRecall·Precision-at-threshold, all ties advancing together (the
    * deterministic convention — no arbitrary within-tie order leaks).
    *
    * Scale shape: the corpus collapses to the distinct-score frame in
    * one partial-agg pass (np/nt per score); the cumulative window and
    * the final rollup run on that value-cardinality-sized frame
    * (documented single-partition window, same class as the rank-sum
    * stripes' merge). Integer counts end-to-end; one Σ of exact-ratio
    * products at the close, round 6. */
  def averagePrecision(df: DataFrame, groupCol: String, c: String,
                       pos: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.filter(col(c).isNotNull)
      .groupBy(col(c).as("v"))
      .agg(sum(when(col(groupCol) === pos, 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("nt"))
    val w = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = pts
      .withColumn("cp", sum("np").over(w))
      .withColumn("ct", sum("nt").over(w))
    val tot = pts.agg(sum("np").as("npos"), sum("nt").as("ntot"))
    cum.crossJoin(broadcast(tot))
      .agg(max("npos").as("n_pos"), max("ntot").as("n_total"),
        round(sum((col("np") / col("npos").cast("double")) *
          (col("cp") / col("ct").cast("double"))), 6)
          .as("average_precision"))
  }

  /** Pairwise Welch battery with BENJAMINI–HOCHBERG FDR correction —
    * what a profiling layer must do the moment it runs MANY tests at
    * once (k groups → k(k−1)/2 comparisons; at α=0.05 a 10-test battery
    * expects a false positive every other run — BH caps the FALSE
    * DISCOVERY RATE instead). Reuses [[welchTTest]]'s one-pass battery;
    * p-values via the Abramowitz–Stegun 7.1.26 normal-CDF polynomial
    * (identical literal polynomial on both engines; the normal
    * approximation to t is documented — df here is in the thousands),
    * rounded 8dp so both engines rank identical doubles; the BH
    * step-up p̂ᵢ = min_{j≥i}(pⱼ·m/j) is one suffix-min window over the
    * pair-count-sized frame with a (p, group) tiebreak. */
  def welchBatteryBH(df: DataFrame, groupCol: String, c: String,
                     q: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSuffix = Window.orderBy("i")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    welchAdjusted(welchRanked(df, groupCol, c)
        .withColumn("raw", col("p") * col("m") / col("i")),
      round(least(lit(1.0), min("raw").over(wSuffix)), 6), q)
  }

  /** BENJAMINI–YEKUTIELI correction over the same Welch battery — the
    * DEPENDENCE-proof member of the multiple-testing family
    * ([[welchBatteryBH]] controls FDR only under independence or PRDS;
    * the pairwise batteries here share groups, so the comparisons are
    * correlated by construction — BY's harmonic penalty c(m) = Σ1/i
    * buys validity under ARBITRARY dependence, at a power cost that is
    * the point of reporting both): p̂(i) = min suffix of
    * p·m·c(m)/rank, capped at 1. The harmonic factor is computed as a
    * window sum of 1/rank over the pair frame itself — no closed form
    * needed, identical on both engines; everything else is the BH
    * machinery verbatim (one battery pass, pair-count-sized frames,
    * (p, group) total order). */
  def welchBatteryBY(df: DataFrame, groupCol: String, c: String,
                     q: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSuffix = Window.orderBy("i")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    welchAdjusted(welchRanked(df, groupCol, c)
        .withColumn("cm", sum(lit(1.0) / col("i")).over(Window.partitionBy()))
        .withColumn("raw", col("p") * col("m") * col("cm") / col("i")),
      round(least(lit(1.0), min("raw").over(wSuffix)), 6), q)
  }

  /** HOLM step-down FWER correction over the same Welch battery —
    * [[welchBatteryBH]]'s strict sibling: BH caps the false DISCOVERY
    * rate (screening mode — some false positives tolerated); Holm caps
    * the FAMILY-WISE error rate (decision mode — uniformly more
    * powerful than Bonferroni, no independence assumption), which is
    * what a ship/no-ship gate over many variants actually needs.
    * Identical one-pass battery and A&S 7.1.26 p-values; the step-down
    * p̂(i) = max_{j≤i} min(1, pⱼ·(m−j+1)) is one prefix-max window over
    * the pair-count-sized frame with the same (p, group) total order. */
  def welchBatteryHolm(df: DataFrame, groupCol: String, c: String,
                       alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrefix = Window.orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    welchAdjusted(welchRanked(df, groupCol, c)
        .withColumn("raw",
          least(lit(1.0), col("p") * (col("m") - col("i") + 1))),
      round(max("raw").over(wPrefix), 6), alpha)
  }

  /** The Welch battery's shared steps: [[welchTTest]]'s pairs with the
    * two-sided normal p-value `p` (Abramowitz–Stegun 7.1.26, rounded
    * 8dp so both engines rank identical doubles), the pair count `m`
    * and the rank `i` in the (p, group_a, group_b) total order. */
  private def welchRanked(df: DataFrame, groupCol: String, c: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = abs(col("t_stat"))
    val k = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = k * (lit(0.319381530) + k * (lit(-0.356563782) +
      k * (lit(1.781477937) + k * (lit(-1.821255978) +
        k * lit(1.330274429)))))
    val phi = exp(-x * x / lit(2.0)) * lit(0.3989422804014327)
    welchTTest(df, groupCol, c)
      .withColumn("p", round(lit(2.0) * phi * poly, 8))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("i",
        row_number().over(Window.orderBy("p", "group_a", "group_b")))
  }

  /** The battery report: each pair's adjusted p-value `pAdj` and
    * whether it clears `level`. */
  private def welchAdjusted(ranked: DataFrame, pAdj: Column,
                            level: Double): DataFrame =
    ranked.withColumn("p_adj", pAdj)
      .select(col("group_a"), col("group_b"), col("t_stat"), col("p"),
        col("p_adj"), (col("p_adj") <= level).as("significant"))

  /** The deterministic md5 arm split — first hex digit < '8' (the high
    * bit of the first nibble) → A. ONE definition shared by dq_srm's
    * audit, st_power, and stream_ab_monitor's replay-stable
    * assignment, so every experimentation surface reconciles
    * user-by-user. */
  def md5Arm(user: Column): Column =
    when(substring(md5(user.cast("string")), 1, 1) < "8", "A")
      .otherwise("B")

  /** TWO-PROPORTION POWER ANALYSIS from observed arm rates — the
    * experimentation-desk question BEFORE the test ships ("how many
    * users per arm until the delta we are seeing is detectable"):
    * n/arm = (z_{α/2}+z_β)²·(p₁(1−p₁)+p₂(1−p₂))/δ² at α=0.05,
    * power=0.8 (z literals 1.959964, 0.841621 — identical constants on
    * both engines). Arms are [[md5Arm]], the same split dq_srm audits;
    * conversion = "user has ≥1 purchase". Reports the observed rates,
    * the delta, required n/arm, and whether the CURRENT arms already
    * clear it. One user-rollup pass (exact integer counts), then 1-row
    * formula arithmetic. */
  def powerAnalysis(events: DataFrame, minValue: Double = 95.0)
      : DataFrame = {
    // conversion = a HIGH-VALUE purchase (value > minValue): the plain
    // any-purchase rate saturates at 1.0 in both arms on this corpus,
    // which makes both δ and p(1−p) zero — no test to power
    val perUser = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > minValue, 1).otherwise(0)).as("conv"))
      .withColumn("arm", md5Arm(col("user_id")))
    powerFromArms(perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").cast("long").as("k")))
  }

  /** The power formula over an (arm, n, k) frame — split out so the
    * streaming monitor reports from its mergeable store through the
    * SAME arithmetic (one definition, two surfaces). */
  def powerFromArms(arms: DataFrame): DataFrame = {
    val w = arms.agg(
      max(when(col("arm") === "A", col("n"))).as("na"),
      max(when(col("arm") === "A", col("k"))).as("ka"),
      max(when(col("arm") === "B", col("n"))).as("nb"),
      max(when(col("arm") === "B", col("k"))).as("kb"))
    val pa = col("ka").cast("double") / col("na")
    val pb = col("kb").cast("double") / col("nb")
    val delta = abs(pa - pb)
    val zsum2 = lit(7.848878512225001) // (z_{α/2}+z_β)² = (1.959964+0.841621)²
    val nReq = ceil(zsum2 * (pa * (lit(1.0) - pa) + pb * (lit(1.0) - pb))
      / nullif(delta * delta, lit(0.0))).cast("long")
    w.select(col("na"), col("nb"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(delta, 6).as("delta"),
      nReq.as("n_required_per_arm"),
      (least(col("na"), col("nb")) >= nReq).as("powered"))
  }

  /** Theil T inequality index with its between/within DECOMPOSITION —
    * the property [[giniIndex]] famously lacks (Gini doesn't decompose
    * additively): how much of total revenue inequality lives BETWEEN
    * the groups vs WITHIN them. One partial-agg pass per group collects
    * n, the decimal-exact cent total, and Σx·ln x; every formula after
    * runs on the group-count-sized frame with totals riding back as a
    * 1-row broadcast. T_g = S_g/X_g − ln(μ_g); T_between =
    * Σ sₕ·ln(sₕ/pₕ) (income share vs population share); T_within =
    * Σ sₕ·T_g; total = within + between (additivity asserted in the
    * spec). Non-positive values drop (ln domain, classic convention). */
  def theilIndex(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val cents = round(col(c) * 100).cast("decimal(18,0)")
    val g = df.filter(col(c) > 0)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(cents).as("cents"),
        sum(col(c) * log(col(c))).as("s"))
      .select(col(groupCol), col("n"),
        (col("cents").cast("double") / 100.0).as("x"), col("s"))
    val tot = g.agg(sum("n").as("nt"), sum("x").as("xt"),
      sum("s").as("st"), count(lit(1)).as("k"))
    val j = g.crossJoin(broadcast(tot))
    val share = col("x") / col("xt")
    val pop = col("n").cast("double") / col("nt")
    val tg = col("s") / col("x") - log(col("x") / col("n"))
    val parts = j.agg(
      max("nt").as("n"), max("k").as("k"),
      max(col("st") / col("xt") -
        log(col("xt") / col("nt"))).as("t_total"),
      sum(share * log(share / pop)).as("t_between"),
      sum(share * tg).as("t_within"))
    parts.select(col("n"), col("k"),
      round(col("t_total"), 6).as("theil_total"),
      round(col("t_between"), 6).as("theil_between"),
      round(col("t_within"), 6).as("theil_within"))
  }

  /** Cochran's Q — k-treatment PAIRED binary test (the k-group
    * generalization of [[mcnemar]] and the binary twin of [[friedman]]:
    * same user, k binary outcomes — "did conversion hold across all
    * three surfaces for the same people"). One conditional partial-agg
    * pivot per user (absent treatment = 0, the classic all-blocks
    * convention), then ONE 4-sum rollup: Q = k(k−1)·Σⱼ(Cⱼ−N/k)² /
    * (k·ΣRᵢ − ΣRᵢ²) stays in exact integers until the final 1-row
    * division (identical double tree both engines, round 4); an
    * all-zero or all-one corpus nulls the denominator via nullif. */
  def cochranQ(events: DataFrame, threshold: Double = 70.0,
               types: Seq[String] = Seq("click", "view", "purchase"))
      : DataFrame = {
    require(types.size == 3, "pivot is written for k=3")
    val Seq(t1, t2, t3) = types
    def flag(t: String) = coalesce(max(
      when(col("event_type") === t && col("value") > threshold, 1L)
        .when(col("event_type") === t, 0L)), lit(0L))
    val rows = events.filter(col("event_type").isin(types: _*))
      .groupBy("user_id")
      .agg(flag(t1).as("x1"), flag(t2).as("x2"), flag(t3).as("x3"))
    val s = rows.agg(count(lit(1)).as("n_users"),
      sum("x1").as("c1"), sum("x2").as("c2"), sum("x3").as("c3"),
      sum(col("x1") + col("x2") + col("x3")).as("sr"),
      sum((col("x1") + col("x2") + col("x3")) *
        (col("x1") + col("x2") + col("x3"))).as("sr2"))
    val k = lit(3.0)
    val nn = col("sr").cast("double")
    val dev = (c: Column) => (c.cast("double") - nn / k) *
      (c.cast("double") - nn / k)
    val q = k * (k - 1.0) *
      (dev(col("c1")) + dev(col("c2")) + dev(col("c3"))) /
      nullif(k * nn - col("sr2").cast("double"), lit(0.0))
    s.select(col("n_users"), col("c1"), col("c2"), col("c3"),
      round(q, 4).as("q_stat"))
  }

  /** Two-proportion z-test (pooled) — the A/B staple for RATES where
    * [[welchTTest]] is the staple for means: does the success share
    * differ between groups `ga` and `gb`. One partial-agg pass to four
    * integer cells (successes/totals per group); p̂s, the pooled p̂ and
    * z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) leave integer land only in the
    * final 1-row formula (identical double tree both engines, round 4);
    * degenerate pools (p̂ ∈ {0,1}) and empty groups null out via nullif,
    * never a division error. */
  def propTest(df: DataFrame, groupCol: String, success: Column,
               ga: String, gb: String): DataFrame = {
    val s = df.filter(col(groupCol).isin(ga, gb)).agg(
      sum(when(col(groupCol) === ga && success, 1L).otherwise(0L))
        .as("x1"),
      sum(when(col(groupCol) === ga, 1L).otherwise(0L)).as("n1"),
      sum(when(col(groupCol) === gb && success, 1L).otherwise(0L))
        .as("x2"),
      sum(when(col(groupCol) === gb, 1L).otherwise(0L)).as("n2"))
    val (x1, n1) = (col("x1").cast("double"), col("n1").cast("double"))
    val (x2, n2) = (col("x2").cast("double"), col("n2").cast("double"))
    val p1 = x1 / nullif(n1, lit(0.0))
    val p2 = x2 / nullif(n2, lit(0.0))
    val pool = (x1 + x2) / nullif(n1 + n2, lit(0.0))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / nullif(n1, lit(0.0)) + lit(1.0) / nullif(n2, lit(0.0))))
    s.select(col("x1"), col("n1"), col("x2"), col("n2"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      round((p1 - p2) / nullif(se, lit(0.0)), 4).as("z"))
  }

  /** Cliff's delta ordinal effect size — the nonparametric companion of
    * [[cohensD]] (how OFTEN does a draw from A exceed a draw from B,
    * not how far apart the means sit): δ = P(a>b) − P(a<b) =
    * 2U/(n₁n₂) − 1, so it rides [[mannWhitneyU]]'s striped exact-integer
    * rank-sum core verbatim (midranks make the tie convention the
    * standard one) — U is integer-exact, one division at the end, no
    * rounding tolerance anywhere before the final 6dp. δ∈[−1,1]:
    * ±1 = complete separation, 0 = stochastic equality. */
  def cliffsDelta(df: DataFrame, groupCol: String, c: String,
                  ga: String, gb: String): DataFrame = {
    val s = rankSumAgg(df, groupCol, c, ga, gb)
    val u = (col("r1x2") - col("na") * (col("na") + 1)) / 2.0
    s.select(
      round(lit(2.0) * u / nullif((col("na") * col("nb")).cast("double"),
        lit(0.0)) - 1.0, 6).as("cliffs_delta"),
      col("na").as("n_a"), col("nb").as("n_b"))
  }

  /** Wald–Wolfowitz RUNS test for randomness of a time series — "is
    * the hourly level wandering (trend/regimes: few long runs) or
    * oscillating (negative dependence: many short runs) instead of
    * random?" — the model-free stationarity smoke test before any
    * forecasting op. Series = hourly means (CALENDAR-bounded frame —
    * the ordered window never runs over raw data), sign = above/below
    * the series median (ties to the median drop, per the classic test),
    * R = run count via one lag window, z = (R − μ)/σ with
    * μ = 2n₁n₂/n + 1. Both the median and the means round to 6dp so
    * both engines drop identical ties. */
  def runsTest(events: DataFrame, eventType: String = "click"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Resample.hourlyMeans(events, eventType)
    val med = hourly.agg(
      round(expr("percentile(v, CAST(1 AS DOUBLE)/2)"), 6).as("__m"))
    val signed = hourly.crossJoin(broadcast(med))
      .filter(col("v") =!= col("__m"))
      .select(col("hr"), (col("v") > col("__m")).as("up"))
    val w = Window.orderBy("hr")
    val runs = signed
      .withColumn("__new",
        when(lag("up", 1).over(w).isNull ||
          col("up") =!= lag("up", 1).over(w), 1L).otherwise(0L))
      .agg(sum("__new").as("r"),
        sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("up"), 1L).otherwise(0L)).as("n2"))
    val n = (col("n1") + col("n2")).cast("double")
    val mu = lit(2.0) * col("n1") * col("n2") / n + 1.0
    val sig2 = (mu - 1.0) * (mu - 2.0) / (n - 1.0)
    runs.select(col("r"), col("n1"), col("n2"),
      round(mu, 4).as("expected_r"),
      round((col("r") - mu) / sqrt(sig2), 4).as("z"))
  }

  /** Odds ratio + relative risk for an UNPAIRED 2×2 exposure/outcome
    * table (the epidemiology/A-B view the chi² family doesn't report:
    * chi² says "associated", OR/RR say HOW MUCH and in which
    * direction). Wald 95% CI on the log scale (exp(ln OR ± 1.96·√(1/a +
    * 1/b + 1/c + 1/d))); zero cells yield null estimates (undefined,
    * not infinity). One partial-agg pass to the four counts; all
    * integers until the final ratios. */
  def oddsRatio(df: DataFrame, exposed: Column, outcome: Column): DataFrame = {
    val cells = df.agg(
      sum(when(exposed && outcome, 1L).otherwise(0L)).as("a"),
      sum(when(exposed && !outcome, 1L).otherwise(0L)).as("b"),
      sum(when(!exposed && outcome, 1L).otherwise(0L)).as("c"),
      sum(when(!exposed && !outcome, 1L).otherwise(0L)).as("d"))
    val anyZero = col("a") === 0 || col("b") === 0 ||
      col("c") === 0 || col("d") === 0
    val or = (col("a") * col("d")) / (col("b") * col("c"))
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    val rr = (col("a") / (col("a") + col("b"))) /
      (col("c") / (col("c") + col("d")))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      when(anyZero, lit(null).cast("double"))
        .otherwise(round(or, 4)).as("odds_ratio"),
      when(anyZero, lit(null).cast("double"))
        .otherwise(round(exp(log(or) - lit(1.96) * se), 4)).as("or_lo"),
      when(anyZero, lit(null).cast("double"))
        .otherwise(round(exp(log(or) + lit(1.96) * se), 4)).as("or_hi"),
      when(anyZero, lit(null).cast("double"))
        .otherwise(round(rr, 4)).as("relative_risk"))
  }

  /** McNemar's test — the PAIRED BINARY companion of
    * [[wilcoxonSignedRank]] (the before/after test on the same units:
    * "did the users who converted early still convert late?"). Per unit
    * two booleans from arbitrary condition Columns; only the DISCORDANT
    * cells matter — b = A∧¬B, c = ¬A∧B — and χ² = (b−c)²/(b+c) with
    * the continuity-corrected (|b−c|−1)²/(b+c) alongside (NULL when no
    * discordance exists — the statistic is undefined, not zero). Two
    * narrow rollups (unit flags, then the 1-row contingency sum); no
    * ranks, no sort, exact integers until the final division. */
  def mcnemar(events: DataFrame, condA: Column, condB: Column,
              unitCol: String = "user_id"): DataFrame = {
    val flags = events
      .groupBy(unitCol)
      .agg(max(when(condA, 1L).otherwise(0L)).as("fa"),
        max(when(condB, 1L).otherwise(0L)).as("fb"))
      .filter(col("fa") === 1 || col("fb") === 1)
    flags.agg(
        sum(when(col("fa") === 1 && col("fb") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("fa") === 0 && col("fb") === 1, 1L).otherwise(0L))
          .as("c"),
        count(lit(1)).as("n_units"))
      .select(col("n_units"), col("b"), col("c"),
        when(col("b") + col("c") === 0, lit(null).cast("double"))
          .otherwise(round(pow(col("b") - col("c"), 2) /
            (col("b") + col("c")), 4)).as("chi2"),
        when(col("b") + col("c") === 0, lit(null).cast("double"))
          .otherwise(round(pow(abs(col("b") - col("c")) - 1, 2) /
            (col("b") + col("c")), 4)).as("chi2_cc"))
  }

  /** Wilcoxon SIGNED-RANK test — the PAIRED twin of [[mannWhitneyU]]
    * ("did the same units shift between conditions", here: does a
    * user's mean click value differ from their own mean view value).
    * Per-unit difference d = mean_a − mean_b (ROUNDED to 6dp before the
    * zero-drop so both engines discard identical pairs), |d| midranked
    * with tie correction, W⁺ = rank sum of the positive side, normal
    * approximation z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48).
    *
    * Reuses [[rankSumAgg]]'s striped exact-integer rank machinery
    * verbatim by treating sign(d) as the two classes over value |d| —
    * W⁺ IS that core's R₁, so ranks never touch a global sort and the
    * only doubles appear in the final z division. The per-unit rollup
    * is one partial-agg pass over the event frame. */
  def wilcoxonSignedRank(events: DataFrame, unitCol: String = "user_id",
                         typeCol: String = "event_type", c: String = "value",
                         ta: String = "click", tb: String = "view")
      : DataFrame = {
    val d = events.filter(col(typeCol).isin(ta, tb))
      .groupBy(unitCol)
      .agg(avg(when(col(typeCol) === ta, col(c))).as("__ma"),
        avg(when(col(typeCol) === tb, col(c))).as("__mb"))
      .filter(col("__ma").isNotNull && col("__mb").isNotNull)
      .select(round(col("__ma") - col("__mb"), 6).as("d"))
      .filter(col("d") =!= 0.0)
      .select(abs(col("d")).as("v"),
        when(col("d") > 0, "pos").otherwise("neg").as("sgn"))
    val s = rankSumAgg(d, "sgn", "v", "pos", "neg")
    val n = (col("na") + col("nb")).cast("double")
    val wPlus = col("r1x2") / 2.0
    val varW = n * (n + 1) * (n * 2 + 1) / 24.0 - col("ties") / 48.0
    s.select(wPlus.as("w_plus"),
      round((wPlus - n * (n + 1) / 4.0) / sqrt(varW), 4).as("z"),
      col("na").as("n_pos"), col("nb").as("n_neg"))
  }

  /** Shared striped rank-sum core of [[mannWhitneyU]] and [[auc]]:
    * 1-row frame (r1x2 = 2·R1, ties = Σt³−t, na, nb), all exact
    * integers. */
  private def rankSumAgg(df: DataFrame, groupCol: String, c: String,
                         ga: String, gb: String): DataFrame =
    twoSampleBelow(df, groupCol, c, ga, gb, "t")
      .agg(
        sum(col("ca") * (lit(2) * col("below_t") + col("t") + 1)).as("r1x2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"),
        max("__na").as("na"), max("__nb").as("nb"))

  /** One-way ANOVA F over ALL groups at once (welchTTest's k-group
    * sibling): between-group vs within-group variance from the same
    * single-pass per-group moments — the corpus is scanned once, every
    * later step runs on the group-count-sized stat frame (grand mean
    * rides back as a 1-row broadcast). */
  def anovaF(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val g = df.groupBy(groupCol).agg(
      count(col(c)).as("n"), avg(col(c)).as("m"), var_samp(col(c)).as("v"))
    val grand = g.agg((sum(col("n") * col("m")) / sum("n")).as("gm"),
      sum("n").as("nt"), count(lit(1)).as("k"))
    g.crossJoin(broadcast(grand))
      .agg(max("k").as("k"), max("nt").as("n_total"),
        sum(col("n") * pow(col("m") - col("gm"), 2)).as("ssb"),
        sum((col("n") - 1) * col("v")).as("ssw"))
      .select(col("k"), col("n_total"),
        round((col("ssb") / (col("k") - 1)) /
          (col("ssw") / (col("n_total") - col("k"))), 4).as("f_stat"),
        (col("k") - 1).as("df1"), (col("n_total") - col("k")).as("df2"))
  }

  /** Per-group simple OLS (y ~ x): slope, intercept, R² from Spark's
    * regr_* sufficient-statistic aggregates — one codegen'd pass with
    * map-side partial aggregation, identical shape at 100 TB (the
    * stat frame is group-count-sized). */
  def olsRegression(df: DataFrame, groupCol: String,
                    x: String, y: String): DataFrame =
    df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      round(regr_slope(col(y), col(x)), 6).as("slope"),
      round(regr_intercept(col(y), col(x)), 6).as("intercept"),
      round(regr_r2(col(y), col(x)), 6).as("r2"))

  /** Per-group IQR outlier report (Tukey fences): exact Q1/Q3 in one
    * partial-agg pass, fences broadcast back onto the scan for the
    * conditional counts — the flag-don't-clip sibling of st_winsorize
    * (same two-phase shape, approx_percentile the 100 TB bound source).
    * Counts compare against the ROUNDED fences so both oracle engines
    * count identically. */
  def iqrOutliers(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val fences = df.groupBy(groupCol).agg(
      round(expr(s"percentile($c, 0.25)"), 4).as("q1"),
      round(expr(s"percentile($c, 0.75)"), 4).as("q3"))
      .withColumn("lo",
        round(col("q1") - (col("q3") - col("q1")) * 1.5, 4))
      .withColumn("hi",
        round(col("q3") + (col("q3") - col("q1")) * 1.5, 4))
    df.join(broadcast(fences), Seq(groupCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), max("q1").as("q1"), max("q3").as("q3"),
        sum(when(col(c) < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col(c) > col("hi"), 1L).otherwise(0L)).as("n_high"))
  }

  /** Global MIDRANKS of a numeric column (ties share the average rank)
    * — the striped twin of avg(row_number) OVER (ORDER BY v): distinct
    * values collapse in one partial-agg pass, [[stripedPrefix]] gives
    * the below-counts, midrank = below + (t+1)/2.
    * One row per DISTINCT value; never a single-partition global sort. */
  private def midranks(df: DataFrame, c: String): DataFrame =
    valueBelow(df.groupBy(col(c).as("v")).agg(count(lit(1)).as("t")),
        Seq("t"))
      .select(col("v"), (col("below_t") + (col("t") + 1) / 2.0).as("rk"))

  /** Spearman rank correlation (the monotone-association measure
    * Pearson misses): Pearson corr of the two columns' global midranks.
    * Each rank frame is distinct-value-sized and joins back on the
    * value key (plain equi-joins — AQE broadcasts small rank frames);
    * ranks are exact half-integers from integer arithmetic, so both
    * oracle engines see identical inputs to the final corr. */
  def spearman(df: DataFrame, x: String, y: String): DataFrame = {
    val pairs = df
      .select(col(x).cast("double").as("xv"), col(y).cast("double").as("yv"))
      .filter(col("xv").isNotNull && col("yv").isNotNull)
    val rx = midranks(pairs, "xv")
      .select(col("v").as("xv"), col("rk").as("rkx"))
    val ry = midranks(pairs, "yv")
      .select(col("v").as("yv"), col("rk").as("rky"))
    pairs.join(rx, "xv").join(ry, "yv")
      .agg(count(lit(1)).as("n"),
        round(corr(col("rkx"), col("rky")), 6).as("spearman_rho"))
  }

  /** Benford's-law first-digit profile of a positive numeric column —
    * the classic fabricated-numbers screen: observed share of each
    * leading digit vs the log₁₀(1+1/d) expectation. One partial-agg
    * pass; the digit is pure numeric codegen (no string round-trip), so
    * both oracle engines compute identical doubles. */
  def benford(df: DataFrame, c: String): DataFrame = {
    val x = col(c)
    val digit = floor(x / pow(lit(10.0), floor(log10(x)))).cast("int")
    val counts = df.filter(x > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    counts
      .withColumn("total", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("digit"), col("n"),
        round(col("n") / col("total"), 6).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"))
  }

  /** Pairwise Pearson correlation matrix over k numeric columns in ONE
    * partial-agg pass (k·(k−1)/2 corr aggregates, all map-side partial)
    * pivoted to a (col_x, col_y, corr) frame — never k² scans. The
    * feature-redundancy check run before training. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs =
      for { i <- cols.indices; j <- i + 1 until cols.size }
        yield (cols(i), cols(j))
    // corr via its moment definition, NOT the corr() builtin: under
    // ANSI mode a zero-variance column makes corr() raise DIVIDE_BY_ZERO
    // mid-aggregation; nullif() gives the profiling-friendly null
    val aggs = pairs.map { case (a, b) =>
      round(covar_samp(col(a), col(b)) /
        nullif(stddev_samp(col(a)) * stddev_samp(col(b)), lit(0.0)), 6)
        .as(s"${a}__$b") }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col(s"${a}__$b").as("corr_xy")) }
    wide.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  /** Exact interpolated percentiles PER GROUP (the grouped twin of
    * [[quantiles]]): one partial-agg pass, group-count-sized output;
    * percentile_approx is the documented 100 TB drop-in (same shape,
    * constant-memory sketch). */
  def groupQuantiles(df: DataFrame, groupCol: String, c: String,
                     qs: Seq[Double]): DataFrame = {
    val aggs = qs.map(q =>
      round(expr(s"percentile($c, $q)"), 4).as(s"q${(q * 100).toInt}"))
    df.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Q–Q table between two groups' distributions — decile-by-decile
    * quantile pairing, the distribution-shape comparison behind "did
    * this source shift?" that a mean test (st_ttest) can't see. ONE
    * conditional-percentile pass over the corpus (both groups' deciles
    * from the same partial agg — no per-group scan), then a row-local
    * arrays_zip/posexplode to 9 rows. percentile_approx is the
    * constant-memory 100 TB drop-in. */
  def qqTable(df: DataFrame, groupCol: String, c: String,
              ga: String, gb: String): DataFrame = {
    val ps = (1 to 9).map(_ / 10.0)
    val arr = s"array(${ps.mkString(", ")})"
    val one = df.agg(
      expr(s"percentile(CASE WHEN $groupCol = '$ga' THEN $c END, $arr)")
        .as("qa"),
      expr(s"percentile(CASE WHEN $groupCol = '$gb' THEN $c END, $arr)")
        .as("qb"))
    one.select(posexplode(arrays_zip(col("qa"), col("qb"))))
      .select(round((col("pos") + 1) / 10.0, 1).as("p"),
        round(col("col.qa"), 4).as("q_a"),
        round(col("col.qb"), 4).as("q_b"),
        round(col("col.qa") - col("col.qb"), 4).as("diff"))
  }

  /** Per-group mean with a normal-approximation confidence interval
    * (mean ± z·s/√n) — the "is this metric stable" one-liner every
    * dashboard needs. One partial-agg pass; CLT makes the normal
    * approximation the right default at warehouse group sizes. */
  def groupMeanCI(df: DataFrame, groupCol: String, c: String,
                  z: Double = 1.96): DataFrame =
    df.groupBy(groupCol)
      .agg(count(col(c)).as("n"),
        round(avg(col(c)), 4).as("mean"),
        round(stddev_samp(col(c)), 4).as("std"))
      .select(col(groupCol), col("n"), col("mean"), col("std"),
        round(col("mean") - lit(z) * col("std") / sqrt(col("n")), 4)
          .as("ci_lo"),
        round(col("mean") + lit(z) * col("std") / sqrt(col("n")), 4)
          .as("ci_hi"))

  /** Median absolute deviation per group — the robust dispersion
    * estimate (stddev is dragged by the same outliers it is meant to
    * flag; MAD is 50%-breakdown). Two passes by necessity (the second
    * median is of deviations FROM the first), but both group medians
    * ride the same group partitioning: the per-group median joins back
    * broadcast-sized (group-cardinality rows), and each pass is an
    * exact distributed percentile. percentile_approx is the
    * constant-memory 100 TB drop-in for both. Also emits the
    * 1.4826·MAD sigma-equivalent (consistency constant for normal
    * data) — the robust z-score denominator. */
  def madByGroup(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(expr(s"percentile($c, 0.5)").as("med"))
    df.join(broadcast(med), Seq(groupCol))
      .withColumn("__adev", abs(col(c) - col("med")))
      .groupBy(groupCol)
      .agg(round(first(col("med")), 4).as("median"),
        round(expr("percentile(__adev, 0.5)"), 4).as("mad"),
        round(expr("percentile(__adev, 0.5)") * 1.4826, 4).as("mad_sigma"))
  }

  /** Mutual information (nats) between two categorical columns — the
    * dependence measure st_chi2's test statistic doesn't give you.
    * ONE partial-agg pass → the joint cell frame; both marginals and
    * the total are rollups OF that frame (never a second scan); the
    * final Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) runs over cells only.
    * Exactly-proportional cells give MI = 0 exactly (ln 1 = 0). */
  def mutualInformation(df: DataFrame, x: String, y: String): DataFrame = {
    val joint = df.groupBy(x, y).agg(count(lit(1)).as("nxy"))
    val nx = joint.groupBy(x).agg(sum("nxy").as("nx"))
    val ny = joint.groupBy(y).agg(sum("nxy").as("ny"))
    val tot = joint.agg(sum("nxy").as("n"))
    joint.join(nx, x).join(ny, y).crossJoin(broadcast(tot))
      .agg(
        round(sum((col("nxy") / col("n")) *
          log(col("nxy") * col("n") / (col("nx") * col("ny")))), 6)
          .as("mi_nats"),
        max(col("n")).as("n_total"),
        count(lit(1)).as("n_cells"))
  }

  /** Per-group Gini concentration index via the rank formula
    * G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n  (x ascending, i = 1-based rank).
    * One exchange on the group key with an in-partition sort (groups
    * rank in parallel; ties are rank-order-invariant because equal x
    * contribute the same Σ i·x under any permutation of their ranks).
    * For a single giant group [[stripedRank]] is the drop-in
    * replacement for the window rank. */
  def gini(df: DataFrame, groupCol: String, c: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__x"))
    df.select(col(groupCol), col(c).cast("double").as("__x"))
      .withColumn("__i", row_number().over(w).cast("long"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(
          lit(2.0) * sum(col("__i") * col("__x")) /
            (count(lit(1)) * sum("__x")) -
            (count(lit(1)) + lit(1.0)) / count(lit(1)),
          6).as("gini"))
  }

  /** Brown–Forsythe test (Levene's test with median centers) for
    * variance homogeneity — the gate BEFORE pooled-variance methods
    * (classic ANOVA assumes equal variances; this tests that
    * assumption robustly): W is exactly the one-way ANOVA F computed
    * on the absolute deviations z = |x − group median|.
    *
    * Two passes by necessity (the median can't partial-aggregate):
    * pass 1 is a group-count-sized exact-median rollup broadcast back,
    * pass 2 is [[anovaF]]'s single-pass moment machinery on z.
    * approx_percentile swaps in at 100 TB (same contract as st_mad). */
  def brownForsythe(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(expr(s"percentile($c, 0.5)").as("__med"))
    val z = df.join(broadcast(med), Seq(groupCol))
      .select(col(groupCol), abs(col(c) - col("__med")).as("__z"))
    anovaF(z, groupCol, "__z")
  }

  /** Pairwise Cohen's d effect size — the "is the difference LARGE"
    * companion to [[tTest]]'s "is it real" (t grows with n, d doesn't):
    * (μa−μb)/s_pooled over every group pair, pooled SD from the
    * (n−1)-weighted variances. Same scale shape as tTest: ONE
    * partial-agg moment pass over the corpus, the pair join runs on
    * the group-count-sized stat frame (broadcast, k² pairs of k
    * groups); same round(·,4) float tolerance as the t/ANOVA family. */
  def cohensD(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val g = df.groupBy(groupCol).agg(count(col(c)).as("n"),
      avg(col(c)).as("m"), var_samp(col(c)).as("v"))
    val a = g.select(col(groupCol).as("group_a"), col("n").as("na"),
      col("m").as("ma"), col("v").as("va"))
    val b = g.select(col(groupCol).as("group_b"), col("n").as("nb"),
      col("m").as("mb"), col("v").as("vb"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"), col("na"), col("nb"),
        round((col("ma") - col("mb")) /
          sqrt(((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb")) /
            (col("na") + col("nb") - 2)), 4).as("cohens_d"))
  }

  /** Per-group Jarque–Bera normality test: skewness, excess-free
    * kurtosis, and JB = n/6·(S² + (K−3)²/4) — the moment-based screen
    * for "is this metric even close to Gaussian" that decides whether
    * the t/ANOVA family ([[tTest]]/[[anovaF]]) is trustworthy.
    *
    * Engine-exact by construction (the st_mwu integer discipline):
    * values are scaled to exact integers (round(x·10⁴) as decimal), so
    * the four power sums Σx..Σx⁴ aggregate in exact decimal/hugeint
    * arithmetic with NO float summation-order drift; both engines then
    * run the identical double formula on identical sums. Skewness,
    * kurtosis, and JB are scale-invariant, so the 10⁴ factor cancels
    * and never needs unscaling. ONE codegen'd partial-agg pass over the
    * corpus, group-count-sized output; a zero-variance group yields
    * nulls via nullif, not NaN/Infinity. Sum headroom: |x| ≤ 10⁷ scaled
    * keeps Σx⁴ under 10²⁸·rows — exact in decimal(38,0) to ~10¹⁰ rows
    * per group. */
  def jarqueBera(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val x = round(col(c) * 1e4).cast("decimal(9,0)")
    val s = df.select(col(groupCol), x.as("__x"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("s1"),
        sum(col("__x") * col("__x")).as("s2"),
        sum(col("__x") * col("__x") * col("__x")).as("s3"),
        sum((col("__x") * col("__x")) * (col("__x") * col("__x"))).as("s4"))
    // identical double expression tree on both engines → identical bits
    val n = col("n").cast("double")
    val (s1, s2, s3, s4) = (col("s1").cast("double"),
      col("s2").cast("double"), col("s3").cast("double"),
      col("s4").cast("double"))
    val mu = s1 / n
    val m2 = s2 / n - mu * mu
    val m3 = s3 / n - lit(3.0) * mu * (s2 / n) + lit(2.0) * mu * mu * mu
    val m4 = s4 / n - lit(4.0) * mu * (s3 / n) +
      lit(6.0) * (mu * mu) * (s2 / n) - lit(3.0) * (mu * mu) * (mu * mu)
    // m2·√m2 over pow(m2,1.5): sqrt is correctly-rounded IEEE in both
    // engines, pow is libm-dependent — a 1-ulp divergence could flip a
    // round(…,6) boundary between Spark and the oracle
    val skew = m3 / nullif(m2 * sqrt(m2), lit(0.0))
    val kurt = m4 / nullif(m2 * m2, lit(0.0))
    s.select(col(groupCol), col("n"),
      round(skew, 6).as("skewness"),
      round(kurt, 6).as("kurtosis"),
      round(n / lit(6.0) *
        (skew * skew + (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(4.0)),
        4).as("jb"))
  }

  /** Poisson(1) CDF steps for the bootstrap's inverse-transform
    * weights, pre-scaled to 13-hex-digit thresholds (⌊cdf·2⁵²⌋ in
    * lowercase hex): a 13-char md5-hex prefix compares LEXICOGRAPHICALLY
    * as the 52-bit number it spells (same length, '0'<…<'9'<'a'<…<'f'),
    * so `hex13 < threshold` is an exact u < cdf test that any engine
    * with md5 replays bit-for-bit — no 64-bit wrap arithmetic (which
    * DuckDB refuses) and no engine-private hash (xxhash64). */
  private[graft] val PoissonHexCdf: Seq[String] = Seq(
    "5e2d58d8b3bce", "bc5ab1b16779c", "eb715e1dc1583", "fb23979734a25",
    "ff1025f59174e", "ffd90f3ba4056", "fffa8b71fc72c", "ffff540c0914b",
    "ffffed1f4aa8f")

  /** The 13-hex-digit md5 prefix of id cols + replicate + seed joined
    * with ':' — the ONE deterministic resampling source shared by
    * [[bootstrapCI]] and [[permutationTest]] (pipe_split's salted-md5
    * discipline, extended with a replicate index). */
  private def resampleHex(idCols: Seq[String], b: Column,
                          seed: Long): Column =
    substring(md5(concat_ws(":",
      (idCols.map(c => col(c).cast("string")) :+ b.cast("string") :+
        lit(seed.toString)): _*)), 1, 13)

  /** One-pass POISSON bootstrap CI of the per-group mean — the
    * distributed form of the bootstrap: instead of materializing B
    * resamples (each a full shuffle of the corpus), every row draws an
    * independent Poisson(1) weight per replicate (the B→∞ limit of
    * multinomial resampling), so all B replicate means come out of ONE
    * scan + ONE narrow (group, b) partial-agg shuffle that map-side
    * combines to |groups|·B rows per task. Weights are DETERMINISTIC
    * and ENGINE-NEUTRAL (r9 [oracle] flip): the salted-md5 hex prefix
    * of (ids, replicate, seed) compares against the [[PoissonHexCdf]]
    * literals as a codegen'd when-chain (weight capped at 9 — Poisson
    * mass beyond is < 1.2e-6), values quantize to integer micro-units
    * so every replicate mean is a ratio of exact decimal sums —
    * identical doubles on any engine and any cluster layout, no RNG
    * state. CI is the 2.5/97.5 percentile of the B replicate means
    * (exact percentile: the frame is |groups|·B, driver-free but
    * tiny). */
  def bootstrapCI(df: DataFrame, groupCol: String, valueCol: String,
                  idCols: Seq[String], reps: Int = 100,
                  seed: Long = 42L): DataFrame = {
    val h = resampleHex(idCols, col("__b"), seed)
    val w = PoissonHexCdf.zipWithIndex.foldRight(
      lit(PoissonHexCdf.size): org.apache.spark.sql.Column) {
      case ((hx, k), rest) => when(h < lit(hx), lit(k)).otherwise(rest)
    }
    val repMeans = df
      .select((Seq(col(groupCol),
        round(col(valueCol) * 1e6).cast("long").as("__x6"),
        explode(sequence(lit(1), lit(reps))).as("__b")) ++
        idCols.map(col)): _*)
      .withColumn("__w", w)
      .groupBy(col(groupCol), col("__b"))
      .agg((sum((col("__w") * col("__x6")).cast("decimal(38,0)"))
          .cast("double") /
        nullif(sum(col("__w").cast("long")).cast("double"), lit(0.0)) /
        lit(1e6)).as("__m"))
    val point = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(sum(round(col(valueCol) * 1e6).cast("decimal(38,0)"))
          .cast("double") / count(lit(1)) / lit(1e6), 6).as("mean"))
    repMeans.groupBy(groupCol)
      .agg(round(expr("percentile(__m, 0.025)"), 6).as("ci_lo"),
        round(expr("percentile(__m, 0.975)"), 6).as("ci_hi"))
      .join(point, Seq(groupCol))
      .select(col(groupCol), col("n"), col("mean"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Randomization test for a two-group mean difference — the
    * nonparametric twin of welchTTest (no normality assumption; JB
    * decides which applies). Monte-Carlo RANDOM-RELABEL form, stated
    * honestly: each replicate reassigns every row to a pseudo-group by
    * an independent fair hash-coin (u = xxhash64(id, b, seed) bit),
    * which approximates label permutation under H0 exchangeability
    * without the global shuffle a true permutation needs — that's what
    * makes it ONE scan + ONE narrow (b, coin) partial-agg shuffle at
    * any scale, B replicate statistics from |2B| aggregated rows.
    * p = (1 + #{|T_b| ≥ |T_obs|}) / (B+1) (add-one: never exactly 0).
    * Coin and arithmetic are ENGINE-NEUTRAL (r9 [oracle] flip): the
    * coin is the high bit of the salted-md5 first hex digit (md5Arm's
    * rule over the [[resampleHex]] input) and values quantize to
    * integer micro-units, so every replicate statistic is a ratio of
    * exact decimal sums — identical doubles on any engine. */
  def permutationTest(df: DataFrame, groupCol: String, valueCol: String,
                      groupA: String, groupB: String, idCols: Seq[String],
                      reps: Int = 199, seed: Long = 7L): DataFrame = {
    val two = df.filter(col(groupCol).isin(groupA, groupB))
      .select((Seq(col(groupCol).as("__g"),
        round(col(valueCol) * 1e6).cast("long").as("__x6")) ++
        idCols.map(col)): _*)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def s6(c: Column) = sum(when(c, col("__x6")).cast("decimal(38,0)"))
    val obs = two.agg(
      s6(col("__g") === groupA).as("__sa"),
      s6(col("__g") === groupB).as("__sb"),
      cnt(col("__g") === groupA).as("n_a"),
      cnt(col("__g") === groupB).as("n_b"))
      .select(col("n_a"), col("n_b"),
        ((col("__sa").cast("double") / col("n_a") -
          col("__sb").cast("double") / col("n_b")) / lit(1e6))
          .as("__t"))
    val coin = substring(resampleHex(idCols, col("__b"), seed), 1, 1)
      .< (lit("8"))
    val repStats = two
      .select((Seq(col("__x6"),
        explode(sequence(lit(1), lit(reps))).as("__b")) ++
        idCols.map(col)): _*)
      .withColumn("__c", coin)
      .groupBy("__b")
      .agg(((s6(col("__c")).cast("double") / cnt(col("__c")) -
        s6(!col("__c")).cast("double") / cnt(!col("__c"))) / lit(1e6))
        .as("__tb"))
    repStats.crossJoin(broadcast(obs))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        round(first(col("__t")), 6).as("mean_diff"),
        round((lit(1.0) + sum(when(abs(col("__tb")) >= abs(col("__t")), 1L)
            .otherwise(0L))) / (lit(1.0) + count(lit(1))), 6)
          .as("p_value"))
  }

  /** Per-group null imputation — the cleaning step between ingest and
    * any training pass: nulls in `c` fill with their group's exact
    * median (computed over non-null rows only). The per-group medians
    * are a tiny partial-agg frame broadcast back onto the scan — the
    * data itself never shuffles and the fill is a codegen'd coalesce
    * (same join shape as winsorize). Swap `percentile` for
    * `approx_percentile` at 100 TB; the shape is unchanged. Rows with
    * a null group, or in an all-null group, keep a null fill and are
    * flagged rather than silently invented. */
  def imputeByGroup(df: DataFrame, groupCol: String, c: String): DataFrame = {
    val meds = df.filter(col(c).isNotNull)
      .groupBy(col(groupCol))
      .agg(round(expr(s"percentile($c, 0.5)"), 6).as("__med"))
    df.join(broadcast(meds), Seq(groupCol), "left")
      .withColumn("was_null", col(c).isNull)
      .withColumn(s"${c}_filled",
        round(coalesce(col(c), col("__med")), 6))
      .drop("__med")
  }

  /** w·(1, x1..xn) as a Column over a frame carrying x1..xn. */
  def logisticMargin(w: Array[Double]): Column =
    (1 until w.length).foldLeft(lit(w(0)): Column)((acc, i) =>
      acc + lit(w(i)) * col(s"x$i"))

  /** ONE full-batch GD step on a frame carrying x1..xn + y: returns the
    * updated weights. The gradient is a single map-side-combined
    * aggregate with the current weights inlined as literals; shared by
    * batch training (logisticGD) and the streaming per-micro-batch SGD
    * sink. */
  def logisticStep(feats: DataFrame, w: Array[Double], lr: Double)
      : Array[Double] = {
    val dims = w.length - 1
    val resid =
      lit(1.0) / (lit(1.0) + exp(-logisticMargin(w))) - col("y")
    val grads = avg(resid).as("g0") +:
      (1 to dims).map(i => avg(resid * col(s"x$i")).as(s"g$i"))
    val g = feats.agg(grads.head, grads.tail: _*).head()
    w.zipWithIndex.map { case (wi, i) => wi - lr * g.getDouble(i) }
  }

  /** MERGEABLE moment statistics — per-(group, day) power-sum partials
    * rolled up to exact per-group mean/std WITHOUT rescanning rows: the
    * incremental-statistics pattern a 100 TB lake runs, where each
    * ingested partition persists its (n, Σx, Σx²) once and any window's
    * profile is a merge over the tiny partial frame. Sums are exact
    * DECIMALs (the jarque-bera power-sum discipline: double summation
    * order can't drift, merges are associative to the last bit — the
    * property that makes the partials STORABLE), converted to double
    * only for the final mean/std arithmetic. The two-level rollup here
    * proves the merge: its result is identical to a direct one-pass
    * profile, spec-locked under arbitrary re-partitioning of the
    * partial level. */
  def mergeableMoments(events: DataFrame, groupCol: String = "event_type")
      : DataFrame = {
    val partials = events
      .filter(col("value").isNotNull)
      .groupBy(col(groupCol), to_date(col("ts")).as("__day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).as("s1"),
        sum((col("value") * col("value")).cast("decimal(30,6)")).as("s2"))
    mergeMomentPartials(partials, groupCol)
  }

  /** The merge half of `mergeableMoments`, usable over ANY stored
    * partial frame (n, s1, s2 per group × partition). */
  def mergeMomentPartials(partials: DataFrame, groupCol: String)
      : DataFrame =
    partials.groupBy(col(groupCol))
      .agg(sum("n").as("n"), sum("s1").as("__s1"), sum("s2").as("__s2"))
      .select(col(groupCol), col("n"),
        round(col("__s1").cast("double") / col("n"), 6).as("mean"),
        round(sqrt((col("__s2").cast("double") -
          col("__s1").cast("double") * col("__s1").cast("double") / col("n"))
          / (col("n") - 1)), 6).as("std"))

  /** Mergeable QUANTILE partials — the quantile sibling of
    * [[mergeableMoments]]: per-(day, bucket) counts over a FIXED value
    * domain [lo, hi) split into `nBins` equi-width bins. A fixed domain
    * is what makes the partials mergeable forever: any two stored
    * partial frames (different days, different corpora, a streaming
    * foreachBatch) merge by summing bucket counts — no rescan, no
    * re-bucketing — exactly how production sketch stores hold
    * latency/size distributions. Out-of-domain values clamp into the
    * edge bins (both engines clamp identically, so the contract stays
    * exact). Estimate error is bounded by one bin width; tighten by
    * raising nBins (the partial frame stays ≤ groups×nBins rows). */
  def quantilePartials(events: DataFrame, c: String, lo: Double, hi: Double,
                       nBins: Int): DataFrame =
    events.filter(col(c).isNotNull)
      .select(to_date(col("ts")).as("day"),
        least(lit(nBins - 1), greatest(lit(0),
          floor((col(c) - lo) / (hi - lo) * nBins))).cast("int").as("bucket"))
      .groupBy("day", "bucket")
      .agg(count(lit(1)).as("n"))

  /** The merge half: collapse ANY stored partial frame to global
    * quantile estimates by linear interpolation inside the target
    * bucket — est(q) = lo + (bucket + (qN − below)/n)·binWidth, where
    * `below` is the cumulative count under the bucket. The cumulative
    * window runs over the MERGED bucket frame (≤ nBins constant rows —
    * a deliberate single-partition window over a sketch, never over
    * data), and each q picks its unique bucket via the half-open band
    * below < qN ≤ below+n (empty buckets can't match: below = below+n).
    * Formula is replicated verbatim in the DuckDB oracle — estimates
    * hash-match exactly, not approximately. */
  def mergeQuantilePartials(partials: DataFrame, lo: Double, hi: Double,
                            nBins: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import partials.sparkSession.implicits._
    val g = partials.groupBy("bucket").agg(sum("n").as("n"))
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val cum = g.withColumn("below", coalesce(sum("n").over(w), lit(0L)))
    val tot = g.agg(sum("n").as("__N"))
    val qpos = col("q") * col("__N")
    qs.toDF("q").crossJoin(broadcast(tot))
      .join(broadcast(cum),
        col("below") < qpos && qpos <= col("below") + col("n"))
      .select(col("q"),
        round(lit(lo) + (col("bucket") + (qpos - col("below")) / col("n")) *
          lit((hi - lo) / nBins), 6).as("est"))
      .orderBy("q")
  }

  /** Distributed batch-gradient-descent logistic regression: `iters`
    * full-batch steps of w ← w − lr·∇L on (intercept + the first `dims`
    * embedding components) predicting a binary label — model TRAINING
    * expressed as the engine's own aggregates. Each step is ONE
    * map-side-combined aggregate pass (the gradient is an average of
    * per-row column expressions with the current weights inlined as
    * literals); the only driver traffic is the (dims+1)-double gradient
    * row per step — the same justified scalar-per-round pattern as
    * dd_cluster's convergence check. The projected feature frame is
    * cached once so the scan cost is paid once, not per step. Fixed
    * iteration count and 0-vector start make the run deterministic;
    * weights and accuracy round to 6dp so the cross-engine compare is
    * stable (double sums agree far below that).
    *
    * `target` is any boolean Column over the input frame — the operator
    * is target-agnostic. (The synthetic corpus's `label` column is
    * independent of the embedding, so the CONTRACT query trains on a
    * separable linear concept over the features instead — the standard
    * optimizer sanity target; accuracy well above chance demonstrates
    * the descent actually descends, which random labels cannot show.)
    *
    * Output: one row — n, final weights, training accuracy at 0.5. */
  def logisticGD(embeddings: DataFrame, target: Column,
                 dims: Int = 3, iters: Int = 3,
                 lr: Double = 1.0): DataFrame = {
    val feats = embeddings.select(
      (1 to dims).map(i =>
        element_at(col("embedding"), i).cast("double").as(s"x$i")) :+
      when(target, 1.0).otherwise(0.0).as("y"): _*)
      .persist()
    var w = Array.fill(dims + 1)(0.0)
    for (_ <- 0 until iters) w = logisticStep(feats, w, lr)
    val pred = when(logisticMargin(w) >= 0, 1.0).otherwise(0.0)
    val outCols = count(lit(1)).as("n") +:
      round(avg(when(pred === col("y"), 1.0).otherwise(0.0)), 6)
        .as("accuracy") +:
      (0 to dims).map(i => round(lit(w(i)), 6).as(s"w$i"))
    val r = feats.agg(outCols.head, outCols.tail: _*).head()
    feats.unpersist()
    val spark = embeddings.sparkSession
    import spark.implicits._
    Seq((r.getLong(0), r.getDouble(1),
      (0 to dims).map(i => r.getDouble(2 + i)).toList))
      .toDF("n", "accuracy", "__w")
      .select(col("n") +: col("accuracy") +:
        (0 to dims).map(i => element_at(col("__w"), i + 1).as(s"w$i")): _*)
  }

  /** Kruskal–Wallis H across ALL groups at once — the k-group
    * nonparametric ANOVA (rank-based sibling of [[anovaF]], the
    * "medians differ somewhere" omnibus test when normality is off the
    * table). Same striped exact-midrank machinery as [[mannWhitneyU]]
    * generalized to k groups: distinct values collapse in one
    * partial-agg pass, per-(value, group) counts join the midrank frame
    * (distinct-value-sized equi-join — AQE broadcasts it), and each
    * group's rank sum Σ c·mr is a sum of exact half-integers, so it is
    * bit-identical on any engine and any partitioning. H and its
    * tie-corrected form leave integer land only in the final k-row
    * formula (identical expression tree on both engines, round 4).
    * Output: one row — k, n, h, h_adj, plus Σ(t³−t) for audit. */
  def kruskalWallis(df: DataFrame, groupCol: String, c: String)
      : DataFrame = {
    val rows = df.filter(col(c).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), col(c).cast("double").as("v"))
    val cnt = rows.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val rk = midranks(rows, "v")
    val gs = cnt.join(rk, "v")
      .groupBy("g")
      .agg(sum("c").as("n"), sum(col("c") * col("rk")).as("rsum"))
    val ties = rows.groupBy("v").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val tot = gs.agg(sum("n").as("nt"), count(lit(1)).as("k"),
      sum(col("rsum") * col("rsum") / col("n")).as("rr"))
      .crossJoin(ties)
    val nt = col("nt").cast("double")
    val h = lit(12.0) / (nt * (nt + 1.0)) * col("rr") -
      lit(3.0) * (nt + 1.0)
    val corr = lit(1.0) -
      col("ties").cast("double") / (nt * nt * nt - nt)
    tot.select(col("k"), col("nt").as("n"),
      round(h, 4).as("h"),
      round(h / nullif(corr, lit(0.0)), 4).as("h_adj"),
      col("ties"))
  }

  /** JONCKHEERE–TERPSTRA ordered-alternative trend test across the
    * priority classes (the DIRECTIONAL member of the k-group rank
    * family: [[kruskalWallis]] asks "do the groups differ at all",
    * JT asks "does o_totalprice RISE as o_orderpriority falls through
    * its ordered ladder" — strictly more power when the alternative
    * is a monotone trend): JT = ΣᵢΣⱼ Uᵢⱼ over ordered group pairs with
    * ties counted ½, z from the no-tie-correction normal moments
    * μ = (N²−Σn²)/4, σ² = (N²(2N+3)−Σn²(2n+3))/72 (documented
    * contract; values quantized to cents make residual ties rare and
    * engine-identical).
    *
    * NOT the quadratic pairwise form: one (group, value) count pass,
    * a k×distinct-value grid, per-group [[stripedPrefix]] sums for
    * below-counts (keyed on the group —
    * no value-cardinality window partition), then a k-bounded prefix
    * over group order per value; 2·JT = Σ t·(2·below+ t_prev) stays an
    * exact integer in decimal(38,0) on any partitioning (validated
    * against the brute-force pairwise sum). Frames are
    * distinct-value×k-sized, never pair-sized. */
  def jonckheereTerpstra(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val rows = orders.select(col("o_orderpriority").as("g"),
      round(col("o_totalprice") * 100).cast("long").as("v"))
    val cnt = rows.groupBy("g", "v").agg(count(lit(1)).as("t"))
    val bounds = cnt.agg(min("v").as("__lo"), max("v").as("__hi"))
    val grid = cnt.select("v").distinct()
      .crossJoin(broadcast(cnt.select("g").distinct()))
      .join(cnt, Seq("g", "v"), "left")
      .na.fill(0L, Seq("t"))
    val below = stripedPrefix(grid.crossJoin(broadcast(bounds)),
        valueStripe(col("v"), col("__lo"), col("__hi")), Seq(col("v")),
        Seq("t"), keys = Seq("g"))
      .withColumnRenamed("below_t", "below")
    // k-bounded prefix over the group ORDER per value: contributions
    // of every lower-ordered group to this group's values
    val wG = Window.partitionBy("v").orderBy("g")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = below.withColumn("s",
      coalesce(sum(col("below") * 2 + col("t")).over(wG), lit(0L)))
    val jt2 = pre.agg(
      sum((col("t").cast(dec) * col("s").cast(dec)).cast(dec)).cast(dec)
        .as("jt2"))
    val sz = rows.groupBy("g").agg(count(lit(1)).as("n"))
      .agg(sum("n").as("nt"), count(lit(1)).as("k"),
        sum((col("n").cast(dec) * col("n").cast(dec)).cast(dec))
          .cast(dec).as("s2"),
        sum((col("n").cast(dec) * col("n").cast(dec) *
          (col("n").cast(dec) * 2 + 1
            ).cast(dec)).cast(dec)).cast(dec).as("s3x"))
    val j = jt2.crossJoin(broadcast(sz))
    val ntd = col("nt").cast(dec)
    val jt = col("jt2").cast("double") / 2.0
    val mu = (ntd * ntd - col("s2")).cast("double") / 4.0
    val sg = sqrt(((ntd * ntd * (ntd * 2 + 3)).cast(dec) -
      (col("s3x") + col("s2") * 2).cast(dec)).cast("double") / 72.0)
    j.select(col("nt").as("n"), col("k"), jt.as("jt"),
      round(mu, 6).as("mu"),
      round((jt - mu) / nullif(sg, lit(0.0)), 6).as("z"))
  }

  /** DURBIN–WATSON autocorrelation test on the hourly-trend OLS
    * residuals (the regression DIAGNOSTIC the OLS family was missing:
    * st_ols fits the hourly trend, DW asks whether its residuals are
    * independent — serially-correlated residuals mean every OLS SE in
    * the neighborhood is understated): DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² over the
    * hour-ordered residuals of y ~ hour-index, with ρ̂ ≈ 1 − DW/2.
    *
    * Engine-exact: slope numerator/denominator are integer decimals
    * from micro-quantized hourly means and a min-shifted hour index
    * (bounded x keeps every sum exact); both engines form b and a as
    * IDENTICAL double expressions from those integers, residuals
    * micro-quantize to longs BEFORE the lag (the one order-dependent
    * step runs on exact integers), and the two quadratic sums ride
    * decimal(38,0). Frames are calendar-bounded after the one
    * partial-agg pass; the lag window is hour-count-sized by design
    * (the kendallTau contract). */
  def durbinWatson(events: DataFrame,
                   eventType: String = "click"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("y"))
    val h0 = broadcast(hourly.agg(min("hr").as("h0")))
    val pts = hourly.crossJoin(h0)
      .select((col("hr") - col("h0")).as("x"), col("y"))
    val mo = pts.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).cast(dec).as("sx"),
      sum(col("y").cast(dec)).cast(dec).as("sy"),
      sum((col("x").cast(dec) * col("x").cast(dec)).cast(dec)).cast(dec)
        .as("sxx"),
      sum((col("x").cast(dec) * col("y").cast(dec)).cast(dec)).cast(dec)
        .as("sxy"))
    val bm = (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
      .cast("double") /
      (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
        .cast("double")
    val co = mo.select(col("n"), bm.as("bm"),
      ((col("sy").cast("double") - bm * col("sx").cast("double")) /
        col("n").cast("double")).as("am"))
    val res = pts.crossJoin(broadcast(co))
      .select(col("x"),
        // floor convention: the residual is a rational of exact sums
        floor(col("y") - col("am") - col("bm") * col("x") + 0.5)
          .cast("long").as("e"))
    val lagged = res.withColumn("ep",
      lag("e", 1).over(Window.orderBy("x")))
    val s = lagged.agg(count(lit(1)).as("n"),
      sum((col("e").cast(dec) * col("e").cast(dec)).cast(dec)).cast(dec)
        .as("see"),
      sum(when(col("ep").isNull, lit(0).cast(dec)).otherwise(
        ((col("e") - col("ep")).cast(dec) *
          (col("e") - col("ep")).cast(dec)).cast(dec))).cast(dec)
        .as("sde"))
      .crossJoin(broadcast(co.select(col("bm"))))
    val dw = col("sde").cast("double") /
      nullif(col("see").cast("double"), lit(0.0))
    s.select(col("n"), round(col("bm") / 1e6, 6).as("slope"),
      round(dw, 6).as("dw"), round(lit(1.0) - dw / 2.0, 6).as("rho"))
  }

  /** Kendall tau-b rank correlation between two HOURLY series (click
    * vs view mean level) — the concordant/discordant-pair association
    * measure, more robust to outliers than Spearman and the standard
    * trend-test core (Mann–Kendall is its one-series special case).
    *
    * Raw-data all-pairs is quadratic, so by design the operator ranks
    * the AGGREGATED series: the corpus collapses to ≤ hours-in-corpus
    * rows in one partial-agg pass (means rounded to 6dp so both engines
    * classify identical pairs), and only that aggregate frame
    * self-joins (hr < hr2, broadcast — pair count is bounded by the
    * calendar, never the data). Concordant/discordant/tie counts are
    * exact longs; tau-b leaves integers only in the final 1-row
    * formula. At 100 TB the aggregate is still calendar-sized, so the
    * pair join never grows with the data. */
  def kendallTau(events: DataFrame, typeA: String = "click",
                 typeB: String = "view"): DataFrame = {
    val hourly = Resample.alignedHourly(events, typeA, typeB)
    val b = hourly.select(col("hr").as("hr2"), col("x").as("x2"),
      col("y").as("y2"))
    val pairs = hourly.join(broadcast(b), col("hr") < col("hr2"))
      .select(
        signum(col("x2") - col("x")).as("dx"),
        signum(col("y2") - col("y")).as("dy"))
    val s = pairs.agg(
      sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"),
      count(lit(1)).as("n0"))
    s.select(col("nc"), col("nd"), col("n0"),
      round((col("nc") - col("nd")) /
        nullif(sqrt((col("n0") - col("tx")).cast("double") *
          (col("n0") - col("ty")).cast("double")), lit(0.0)), 6)
        .as("tau_b"))
  }

  /** SOMERS' D between the hourly click (x) and view (y) series —
    * [[kendallTau]]'s ASYMMETRIC sibling (tau-b treats both variables
    * symmetrically; Somers' D names a direction: D_yx conditions on
    * x-distinguishable pairs — "among hours where the predictor
    * differs, how often does the response agree" — which is why
    * D_yx = 2·AUC−1 when x is binary and D is THE ordinal-predictor
    * effect size): D_yx = (C−D)/(n₀−Tx), D_xy = (C−D)/(n₀−Ty), where
    * Tx counts every pair tied on x (a non-x-tied pair is concordant,
    * discordant, or tied on y only — the classical denominator).
    *
    * Same calendar-bounded hourly all-pairs frame as [[kendallTau]]
    * (one corpus rollup, broadcast self-join bounded by the date
    * window); C, D, Tx, Ty exact longs, two double divisions out. */
  def somersD(events: DataFrame, typeA: String = "click",
              typeB: String = "view"): DataFrame = {
    val hourly = Resample.alignedHourly(events, typeA, typeB)
    val b = hourly.select(col("hr").as("hr2"), col("x").as("x2"),
      col("y").as("y2"))
    val pairs = hourly.join(broadcast(b), col("hr") < col("hr2"))
      .select(
        signum(col("x2") - col("x")).as("dx"),
        signum(col("y2") - col("y")).as("dy"))
    val s = pairs.agg(
      sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"),
      count(lit(1)).as("n0"))
    s.select(col("nc"), col("nd"), col("n0"),
      round((col("nc") - col("nd")).cast("double") /
        nullif((col("n0") - col("tx")).cast("double"), lit(0.0)), 6)
        .as("d_yx"),
      round((col("nc") - col("nd")).cast("double") /
        nullif((col("n0") - col("ty")).cast("double"), lit(0.0)), 6)
        .as("d_xy"))
  }

  /** HOEFFDING'S D between the paired hourly series — the
    * ANY-dependence member of the correlation family ([[kendallTau]]
    * and Spearman only see MONOTONE association; a U-shaped or
    * checkerboard dependence nulls both while D stays positive, so D
    * is the screen that decides whether the monotone statistics were
    * even asked the right question). Classical Hoeffding (1948) with
    * the standard midrank tie convention, kept EXACT in quarter-integer
    * arithmetic: per hour i the pairwise comparison sums
    * r2ᵢ = Σⱼ2c(xᵢ−xⱼ), s2ᵢ = Σⱼ2c(yᵢ−yⱼ), q4ᵢ = Σⱼ4c(xᵢ−xⱼ)c(yᵢ−yⱼ)
    * (c(u)=1,½,0 for u>,=,<0; sums over ALL j incl. i) are exact
    * integers; then R=(r2+1)/2, S=(s2+1)/2, Q=(q4+3)/4 and the three
    * D-sums scale to 16·D1 = Σ(q4−1)(q4−5) etc. — decimal-exact on any
    * engine — with one double division at the close:
    * D = 30·((n−2)(n−3)D1 + D2 − 2(n−2)D3)/(n(n−1)(n−2)(n−3)(n−4)).
    *
    * The pair frame is the CALENDAR-BOUNDED all-pairs join (hours² —
    * the [[kendallTau]]/sampleEntropy contract: bounded by the date
    * window, not the corpus; the hourly rollup is the only
    * corpus-sized pass, one map-side-combined shuffle). */
  def hoeffdingD(events: DataFrame, typeA: String = "click",
                 typeB: String = "view"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hourly = Resample.alignedHourly(events, typeA, typeB)
    val b = hourly.select(col("hr").as("hr2"), col("x").as("x2"),
      col("y").as("y2"))
    def c2(a: Column, bb: Column): Column =
      when(a > bb, 2L).when(a === bb, 1L).otherwise(0L)
    val per = hourly.join(broadcast(b), lit(true))
      .groupBy("hr")
      .agg(sum(c2(col("x"), col("x2"))).as("r2"),
        sum(c2(col("y"), col("y2"))).as("s2"),
        sum(c2(col("x"), col("x2")) * c2(col("y"), col("y2"))).as("q4x2"))
    // q4x2 sums (2c)(2c) = 4·c·c directly
    val agg = per.agg(count(lit(1)).as("n"),
      sum(((col("q4x2") - 1) * (col("q4x2") - 5)).cast(dec)).as("d1x16"),
      sum(((col("r2") - 1) * (col("r2") - 3)).cast(dec) *
        ((col("s2") - 1) * (col("s2") - 3)).cast(dec)).as("d2x16"),
      sum(((col("r2") - 3) * (col("s2") - 3)).cast(dec) *
        (col("q4x2") - 1).cast(dec)).as("d3x16"))
    val n = col("n").cast("double")
    val d = lit(30.0) *
      ((n - 2.0) * (n - 3.0) * col("d1x16").cast("double") +
        col("d2x16").cast("double") -
        lit(2.0) * (n - 2.0) * col("d3x16").cast("double")) /
      (lit(16.0) * n * (n - 1.0) * (n - 2.0) * (n - 3.0) * (n - 4.0))
    agg.select(col("n"), round(d, 6).as("hoeffding_d"))
  }

  /** Two-regressor multiple OLS (y ~ x1 + x2) via EXACT sufficient
    * sums + Cramer's rule — the smallest true multiple regression,
    * where [[olsRegression]]'s single-slope shortcut no longer applies
    * (x1 and x2 correlate, so each coefficient must partial the other
    * out). One partial-agg pass accumulates the 9 cross-moments as
    * decimal-exact integer sums (inputs scaled ×100 to integers first —
    * the [[jarqueBera]] power-sum discipline, so the sums are
    * bit-identical on any engine/partitioning); the 3×3 normal-equation
    * solve is an identical double expression tree on both engines.
    * Scaling unwinds in the final step: slopes are scale-free, the
    * intercept divides by 100 once. Output: one row — n, intercept,
    * b1, b2, r2. */
  def ols2(df: DataFrame, y: String, x1: String, x2: String): DataFrame = {
    def z(c: String) = round(col(c) * 100).cast("decimal(18,0)")
    import Ols3._
    val sst = syy - sy * sy / n
    Ols3.sums(df.select(z(y).as("yy"), z(x1).as("a"), z(x2).as("b")))
      .select(col("n"),
        round(a0 / 100.0, 6).as("intercept"),
        round(b1, 6).as("b1"), round(b2, 6).as("b2"),
        round(lit(1.0) - sse / nullif(sst, lit(0.0)), 6).as("r2"))
  }

  /** Least squares of `yy` ~ 1 + `a` + `b` from exact sums: [[sums]] is
    * the one aggregate of n and the nine cross-moments, and the rest is
    * the Cramer solve of the 3×3 normal equations
    * [n sa sb; sa saa sab; sb sab sbb] over its columns — one identical
    * double expression tree on both engines. Shared by [[ols2]] and
    * [[Resample.adfTest]]. */
  private[operators] object Ols3 {
    def sums(pts: DataFrame): DataFrame = pts.agg(count(lit(1)).as("n"),
      sum("a").as("sa"), sum("b").as("sb"), sum("yy").as("sy"),
      sum(col("a") * col("a")).as("saa"),
      sum(col("a") * col("b")).as("sab"),
      sum(col("b") * col("b")).as("sbb"),
      sum(col("a") * col("yy")).as("say"),
      sum(col("b") * col("yy")).as("sby"),
      sum(col("yy") * col("yy")).as("syy"))
    private def d(c: String) = col(c).cast("double")
    val n = d("n")
    val (sa, sb, sy) = (d("sa"), d("sb"), d("sy"))
    val (saa, sab, sbb) = (d("saa"), d("sab"), d("sbb"))
    val (say, sby, syy) = (d("say"), d("sby"), d("syy"))
    val det = n * (saa * sbb - sab * sab) - sa * (sa * sbb - sab * sb) +
      sb * (sa * sab - saa * sb)
    private val d0 = sy * (saa * sbb - sab * sab) -
      sa * (say * sbb - sab * sby) + sb * (say * sab - saa * sby)
    private val d1 = n * (say * sbb - sab * sby) -
      sy * (sa * sbb - sab * sb) + sb * (sa * sby - say * sb)
    private val d2 = n * (saa * sby - say * sab) -
      sa * (sa * sby - say * sb) + sy * (sa * sab - saa * sb)
    /** Intercept and the two slopes. */
    val (a0, b1, b2) = (d0 / det, d1 / det, d2 / det)
    /** Residual sum of squares. */
    val sse = syy - a0 * sy - b1 * say - b2 * sby
  }

  /** Friedman test over COMPLETE blocks — the repeated-measures twin of
    * [[kruskalWallis]] (same user measured under k=3 conditions; ranks
    * are WITHIN each user, so between-user level differences cancel —
    * exactly what the unpaired test can't do). Each block's treatment
    * means pivot out in one conditional partial-agg pass (rounded 6dp
    * so both engines tie identically); the within-block midranks are
    * ROW-LOCAL pairwise comparisons (k=3: rᵢ = 1 + #{j: xⱼ<xᵢ} +
    * #{j≠i: xⱼ=xᵢ}/2 — no window, no shuffle, scales to any block
    * count), and the per-block tie term Σ(t³−t) collapses to a CASE on
    * the 3 equality bits (s=3 → 24, s=1 → 6, s=0 → 0). Rank sums are
    * exact half-integer sums; χ²_F = 12/(nk(k+1))·ΣRⱼ² − 3n(k+1) with
    * the tie correction C = 1 − Σties/(nk(k²−1)) leaves integer land
    * only in the final 1-row formula. Incomplete blocks drop (classic
    * complete-design Friedman). */
  /** The complete-block within-user rank frame shared by [[friedman]]
    * and [[pageTrend]]: per-user 6dp-rounded treatment means pivot out
    * in one conditional partial-agg pass, within-block midranks are
    * ROW-LOCAL pairwise comparisons (no window, no extra shuffle),
    * incomplete blocks drop. Columns r1..r3 (half-integer ranks in the
    * `types` order) + s (the 3 equality bits). */
  private def friedmanRanked(events: DataFrame,
                             types: Seq[String]): DataFrame = {
    require(types.size == 3, "row-local rank formulas are written for k=3")
    val Seq(t1, t2, t3) = types
    def m(t: String) =
      (Exact.avgMicrosExpr(
          s"case when event_type = '$t' then value end")
          .cast("double") / lit(1e6))
    val blocks = events.filter(col("event_type").isin(types: _*))
      .groupBy("user_id")
      .agg(m(t1).as("x1"), m(t2).as("x2"), m(t3).as("x3"))
      .filter(col("x1").isNotNull && col("x2").isNotNull &&
        col("x3").isNotNull)
    def lt(a: Column, b: Column) = when(a < b, 1).otherwise(0)
    def eq(a: Column, b: Column) = when(a === b, 1).otherwise(0)
    def rk(self: Column, o1: Column, o2: Column) =
      lit(1.0) + lt(o1, self) + lt(o2, self) +
        (eq(o1, self) + eq(o2, self)) / lit(2.0)
    blocks.select(
      rk(col("x1"), col("x2"), col("x3")).as("r1"),
      rk(col("x2"), col("x1"), col("x3")).as("r2"),
      rk(col("x3"), col("x1"), col("x2")).as("r3"),
      (eq(col("x1"), col("x2")) + eq(col("x1"), col("x3")) +
        eq(col("x2"), col("x3"))).as("s"))
  }

  def friedman(events: DataFrame,
               types: Seq[String] = Seq("click", "view", "purchase"))
      : DataFrame = {
    val ranked = friedmanRanked(events, types)
    val agg = ranked.agg(count(lit(1)).as("n"),
      sum("r1").as("s1"), sum("r2").as("s2"), sum("r3").as("s3"),
      sum(when(col("s") === 3, 24L).when(col("s") === 1, 6L)
        .otherwise(0L)).as("ties"))
    val n = col("n").cast("double")
    // nullif guards: an empty slice (n=0) must report null, not raise
    // ANSI DIVIDE_BY_ZERO — at 100 TB an empty date-partition is routine
    val chi2 = lit(12.0) / nullif(n * 3.0 * 4.0, lit(0.0)) *
      (col("s1") * col("s1") + col("s2") * col("s2") +
        col("s3") * col("s3")) - lit(3.0) * n * 4.0
    val corr = lit(1.0) -
      col("ties").cast("double") / nullif(n * 3.0 * 8.0, lit(0.0))
    agg.select(col("n"), lit(3L).as("k"),
      round(chi2, 4).as("chi2"),
      round(chi2 / nullif(corr, lit(0.0)), 4).as("chi2_adj"),
      col("ties"))
  }

  /** PAGE'S L ordered-alternative trend test over the same complete
    * blocks (the DIRECTIONAL twin of [[friedman]], exactly as
    * [[jonckheereTerpstra]] is [[kruskalWallis]]'s: Friedman asks "do
    * the k repeated conditions differ at all", Page asks "do they rise
    * MONOTONICALLY in the stated order" — the `types` sequence IS the
    * alternative being tested): L = Σⱼ j·Rⱼ over the within-block rank
    * sums, z = (L − nk(k+1)²/4)/√(nk²(k+1)(k²−1)/144) in the
    * no-tie-correction normal form (documented contract, the
    * jonckheere convention).
    *
    * Reuses [[friedmanRanked]] verbatim — one conditional partial-agg
    * pass, row-local ranks, no window; rank sums are exact sums of
    * dyadic half-integers (order-free in double), so L is
    * engine-identical and only z's final division is float. */
  def pageTrend(events: DataFrame,
                types: Seq[String] = Seq("click", "view", "purchase"))
      : DataFrame = {
    val ranked = friedmanRanked(events, types)
    val agg = ranked.agg(count(lit(1)).as("n"),
      sum(col("r1") + col("r2") * 2 + col("r3") * 3).as("l"))
    val n = col("n").cast("double")
    // k=3: E[L] = 12n, Var[L] = 2n
    agg.select(col("n"), lit(3L).as("k"), col("l"),
      (n * 12.0).as("mu"),
      round((col("l") - n * 12.0) /
        nullif(sqrt(n * 2.0), lit(0.0)), 6).as("z"))
  }

  /** QUADE TEST over the same complete blocks — the WEIGHTED member of
    * the repeated-measures family ([[friedman]] gives every user equal
    * say; Quade weights each block by the rank of its RANGE, so users
    * who actually discriminate between the k conditions drive the
    * statistic and flat blocks fade — more power than Friedman at
    * small k, the standard recommendation for k ≤ 4):
    * Sᵢⱼ = Qᵢ·(rᵢⱼ−(k+1)/2) with Qᵢ the across-block midrank of block
    * i's range, F = (n−1)·B/(A₂−B) on (k−1, (n−1)(k−1)) df where
    * A₂ = ΣΣS², B = ΣⱼSⱼ²/n.
    *
    * Within-block ranks are the ROW-LOCAL [[friedmanRanked]]
    * comparisons kept as doubled integers; ranges quantize to
    * micro-unit longs and their across-block midranks come from the
    * [[stripedPrefix]] (the only global
    * rank — distinct-range-sized, never serialized); 4S = (2Q)(2r−4)
    * is an exact long per cell, the sufficient sums accumulate in
    * decimal(38,0), and F is one double formula. All-blocks-agree
    * (A₂=B) reports null (F diverges — documented). */
  def quade(events: DataFrame,
            types: Seq[String] = Seq("click", "view", "purchase"))
      : DataFrame = {
    require(types.size == 3, "row-local rank formulas are written for k=3")
    val Seq(t1, t2, t3) = types
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def m(t: String) =
      (Exact.avgMicrosExpr(
          s"case when event_type = '$t' then value end")
          .cast("double") / lit(1e6))
    def lt(a: Column, bb: Column) = when(a < bb, 1L).otherwise(0L)
    def eq(a: Column, bb: Column) = when(a === bb, 1L).otherwise(0L)
    def r2(self: Column, o1: Column, o2: Column) =
      lit(2L) + lit(2L) * (lt(o1, self) + lt(o2, self)) +
        (eq(o1, self) + eq(o2, self))
    val blocks = events.filter(col("event_type").isin(types: _*))
      .groupBy("user_id")
      .agg(m(t1).as("x1"), m(t2).as("x2"), m(t3).as("x3"))
      .filter(col("x1").isNotNull && col("x2").isNotNull &&
        col("x3").isNotNull)
      .select(
        r2(col("x1"), col("x2"), col("x3")).as("ra"),
        r2(col("x2"), col("x1"), col("x3")).as("rb"),
        r2(col("x3"), col("x1"), col("x2")).as("rc"),
        round((greatest(col("x1"), col("x2"), col("x3")) -
          least(col("x1"), col("x2"), col("x3"))) * 1e6).cast("long")
          .as("rq"))
    val q2 = valueBelow(
        blocks.groupBy(col("rq").as("v")).agg(count(lit(1)).as("t")),
        Seq("t"))
      .select(col("v").as("rq"),
        (lit(2) * col("below_t") + col("t") + 1).as("q2"))
    val cells = blocks.join(q2, Seq("rq"))
      .select((col("q2") * (col("ra") - 4)).as("s1"),
        (col("q2") * (col("rb") - 4)).as("s2"),
        (col("q2") * (col("rc") - 4)).as("s3"))
    val agg = cells.agg(count(lit(1)).as("n"),
      sum(col("s1").cast(dec)).as("ss1"),
      sum(col("s2").cast(dec)).as("ss2"),
      sum(col("s3").cast(dec)).as("ss3"),
      sum(col("s1").cast(dec) * col("s1").cast(dec) +
        col("s2").cast(dec) * col("s2").cast(dec) +
        col("s3").cast(dec) * col("s3").cast(dec)).as("a2x16"))
    val n = col("n").cast("double")
    val b16 = (col("ss1").cast("double") * col("ss1").cast("double") +
      col("ss2").cast("double") * col("ss2").cast("double") +
      col("ss3").cast("double") * col("ss3").cast("double")) / n
    agg.select(col("n"), lit(3L).as("k"),
      round((n - 1.0) * b16 /
        nullif(col("a2x16").cast("double") - b16, lit(0.0)), 4)
        .as("f"),
      lit(2L).as("df1"), ((col("n") - 1) * 2).as("df2"))
  }

  /** MURPHY DECOMPOSITION of the Brier score over the calibration bins
    * (the "WHY is the Brier what it is" companion to
    * [[calibrationReport]]: Brier ≈ REL − RES + UNC splits the score
    * into calibration error to FIX, discrimination to KEEP, and the
    * base-rate floor nothing can beat — REL = Σnᵇ(accᵇ−confᵇ)²/N,
    * RES = Σnᵇ(accᵇ−ȳ)²/N, UNC = ȳ(1−ȳ); the identity is exact for
    * bin-constant forecasts and approximate within-bin otherwise,
    * which is the documented binned contract).
    *
    * Same frame discipline as calibrationReport: one partial-agg pass
    * to the ≤10-bin frame, per-bin REL/RES contributions quantized to
    * 1e9 integers BEFORE the cross-bin sum (order-free), ȳ and UNC
    * from exact integer counts, one division each at the close. */
  def brierDecomposition(df: DataFrame, score: Column, label: Column)
      : DataFrame = {
    val q = df.select(score.as("score"), label.cast("int").as("y"))
      .select(floor(col("score") * 10).cast("int").as("bin"), col("y"),
        round(col("score") * 1000000).cast("long").as("sq"),
        round((col("score") - col("y")) * (col("score") - col("y"))
          * 1000000).cast("long").as("bq"))
    val b = q.groupBy("bin").agg(count(lit(1)).as("n"),
      sum("y").cast("long").as("n_pos"), sum("sq").as("ssum"))
    val g = q.agg(count(lit(1)).as("nt"), sum("y").cast("long").as("pt"),
      sum("bq").as("bsum"))
    val ybar = col("pt").cast("double") / col("nt")
    val acc = col("n_pos").cast("double") / col("n")
    val conf = col("ssum").cast("double") / (col("n") * 1000000.0)
    val bb = b.crossJoin(broadcast(g)).select(
      round((acc - conf) * (acc - conf) * col("n") * 1000000000.0 /
        col("nt")).cast("long").as("relq"),
      round((acc - ybar) * (acc - ybar) * col("n") * 1000000000.0 /
        col("nt")).cast("long").as("resq"))
    val s = bb.agg(sum("relq").as("rels"), sum("resq").as("ress"))
      .crossJoin(broadcast(g))
    val rel = col("rels").cast("double") / 1000000000.0
    val res = col("ress").cast("double") / 1000000000.0
    val unc = ybar * (lit(1.0) - ybar)
    // floor convention (Exact.scala) on the two pure 1e-9-grid terms;
    // unc/brier_decomp keep engine round() (data-sized denominators
    // cannot land on an exact representable half)
    s.select(col("nt").as("n"),
      (floor(col("rels").cast("double") / 1000.0 + 0.5) / 1e6).as("rel"),
      (floor(col("ress").cast("double") / 1000.0 + 0.5) / 1e6).as("res"),
      round(unc, 6).as("unc"),
      round(col("bsum").cast("double") / (col("nt") * 1000000.0), 6)
        .as("brier"),
      round(rel - res + unc, 6).as("brier_decomp"))
  }

  /** Kaplan–Meier survival curve over per-user activity lifetimes with
    * right censoring — THE time-to-event estimator (retention/churn
    * analysis done correctly: a user still active at the corpus edge is
    * not a churn at their last-seen day, they are censored). Lifetime =
    * days between a user's first and last event; the event is "churned"
    * when the user went quiet ≥ `quietDays` before the corpus's end,
    * else the lifetime is censored. The corpus collapses to one row per
    * user in one partial-agg pass, then to one row per distinct
    * lifetime-day; the risk table and the cumulative product
    * S(t) = Π (1−dᵢ/nᵢ) (as exp of an ORDERED cumulative ln-sum —
    * deterministic summation order, so both engines walk identical
    * doubles) run on that calendar-bounded frame (documented
    * single-partition window — never over raw data). Output: one row
    * per distinct lifetime day — dur_days, n_risk, d (events),
    * c (censored), survival. */
  /** Per-user right-censored lifetime frame shared by the survival
    * family ([[kaplanMeier]], [[nelsonAalen]], [[logRank]]): one row
    * per user — whole-day duration and the censoring flag (active
    * within `quietDays` of the corpus edge = censored). */
  private def userLifetimes(events: DataFrame,
                            quietDays: Int): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("f"),
        max(unix_micros(col("ts"))).as("l"))
    val gmax = perUser.agg(max("l").as("gmax"))
    val dayUs = 86400L * 1000000L
    perUser.crossJoin(broadcast(gmax))
      .select(col("user_id"),
        floor((col("l") - col("f")) / dayUs).cast("long").as("dur"),
        (col("gmax") - col("l") >= quietDays * dayUs).as("ev"))
  }

  /** TIME-TO-FIRST-PURCHASE lifetime frame — the survival family's
    * CONVERSION clock ([[userLifetimes]]' activity clock is the right
    * input for retention curves, but on a corpus where everyone stays
    * active it is all-censored and the event-weighted tests go vacuous;
    * conversion latency always has real events): duration = whole days
    * from a user's first event to their first purchase, right-censored
    * at their last observed event when they never purchase. */
  private def conversionLifetimes(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("f"),
        max(unix_micros(col("ts"))).as("l"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("p"))
      .select(col("user_id"),
        floor((coalesce(col("p"), col("l")) - col("f")) /
          (86400L * 1000000L)).cast("long").as("dur"),
        col("p").isNotNull.as("ev"))

  /** The (dur, d, c, n_risk) risk table over a (dur, ev) lifetime
    * frame — the one integer-cumulative-sum frame under every
    * survival surface. */
  private def riskTableOf(lifetimes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tbl = lifetimes.groupBy("dur")
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("ev"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = tbl.agg(sum(col("d") + col("c")).as("nt"))
    tbl.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("nt") - coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
      .drop("nt")
  }

  def kaplanMeier(events: DataFrame, quietDays: Int = 14): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wIncl = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, 0)
    riskTableOf(userLifetimes(events, quietDays))
      // A duration where every at-risk user churned (d == n_risk) makes its
      // factor 1 - d/n = 0: survival is exactly 0 from that point on. Spark's
      // log(0) is NULL and the window sum would silently SKIP it (reporting
      // the previous survival), so the zero factor is special-cased: a prefix
      // flag forces survival to 0.0 and the log term is guarded to keep both
      // engines off the log(0) path entirely.
      .withColumn("zero_fac",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wIncl))
      .withColumn("survival",
        round(when(col("zero_fac") === 1, lit(0.0)).otherwise(
          exp(sum(when(col("d") === col("n_risk"), lit(0.0)).otherwise(
            log(lit(1.0) - col("d").cast("double") / col("n_risk"))))
            .over(wIncl))), 4))
      .select(col("dur").as("dur_days"), col("n_risk"), col("d"),
        col("c"), col("survival"))
  }

  /** NELSON–AALEN cumulative hazard of TIME-TO-FIRST-PURCHASE —
    * [[kaplanMeier]]'s additive twin on the conversion clock (KM
    * multiplies survival factors; NA sums hazard increments
    * H(t) = Σ dᵢ/nᵢ — the curve whose SLOPE is the conversion
    * intensity, linear when the hazard is constant, and the standard
    * input to proportional-hazards eyeballing; never-buyers are
    * right-censored at their last event, so the curve is unbiased
    * where a naive mean-latency-of-buyers is not): each increment d/n
    * quantizes to NANO-units before the cumulative sum (exact longs
    * over the day-ordered, calendar-bounded window — no float
    * accumulation at all, unlike KM's guarded ln-sum). */
  def nelsonAalen(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wIncl = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, 0)
    riskTableOf(conversionLifetimes(events))
      .withColumn("h9",
        floor(col("d").cast("double") / col("n_risk") * 1e9 + 0.5)
          .cast("long"))
      .select(col("dur").as("dur_days"), col("n_risk"), col("d"),
        col("c"),
        round(sum("h9").over(wIncl).cast("double") / 1e9, 6)
          .as("cum_hazard"))
  }

  /** LOG-RANK TEST between the [[md5Arm]] arms' TIME-TO-FIRST-PURCHASE
    * curves — the survival family's A/B verdict (st_km/st_nelson_aalen
    * DRAW curves; the log-rank asks whether the arms differ, weighting
    * every event time by its full risk set — the standard
    * conversion-experiment read-out, valid under censoring where a
    * t-test on buyers-only latencies is biased): at each event day,
    * O−E = d_A − d·n_A/n against the hypergeometric variance
    * d·(n_A/n)(1−n_A/n)(n−d)/(n−1), pooled χ² = (ΣO−E)²/ΣV on 1 df.
    *
    * Same integer risk-table machinery with a per-arm split (two
    * cumulative sums over the calendar-bounded day order); per-day
    * deviation/variance terms are 1e6-quantized before the
    * cross-day sum (cmhTest discipline). Days with n ≤ 1 or d = 0
    * contribute nothing — documented, both engines. */
  def logRank(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = conversionLifetimes(events)
      .select(col("dur"), col("ev"), md5Arm(col("user_id")).as("arm"))
    val tbl = lt.groupBy("dur")
      .agg(
        sum(when(col("ev") && col("arm") === "A", 1L).otherwise(0L))
          .as("da"),
        sum(when(col("ev"), 1L).otherwise(0L)).as("d"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ta"),
        count(lit(1)).as("tt"))
    val w = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = tbl.agg(sum("ta").as("na_tot"), sum("tt").as("n_tot"))
    val risk = tbl.crossJoin(broadcast(total))
      .withColumn("na", col("na_tot") -
        coalesce(sum("ta").over(w), lit(0L)))
      .withColumn("n", col("n_tot") -
        coalesce(sum("tt").over(w), lit(0L)))
      .filter(col("n") > 1 && col("d") > 0)
    val nD = col("n").cast("double")
    val pA = col("na").cast("double") / nD
    val q = risk.select(col("na_tot"), col("n_tot"),
      floor((col("da").cast("double") - col("d") * pA) * 1e6 + 0.5)
        .cast("long").as("dev6"),
      floor(col("d").cast("double") * pA * (lit(1.0) - pA) *
        (nD - col("d")) / (nD - 1.0) * 1e6 + 0.5).cast("long").as("v6"))
    q.groupBy("na_tot", "n_tot")
      .agg(sum("dev6").as("sd"), sum("v6").as("sv"))
      .select(col("na_tot").as("n_a"),
        (col("n_tot") - col("na_tot")).as("n_b"),
        round(col("sd").cast("double") * col("sd") / 1e6 /
          nullif(col("sv").cast("double"), lit(0.0)), 6).as("chi2"))
  }

  /** DECISION STUMP with EXACT Gini gain — the one-split tree that is
    * simultaneously the strongest single-feature importance measure
    * and the baseline every fancier model must beat ("how separable is
    * en vs the rest on length ALONE"): over every candidate threshold
    * (= every distinct feature value), the split objective
    * s = (c₀²+c₁²)/n_left + (r₀²+r₁²)/n_right is computed from the
    * striped cumulative class counts (weighted-Gini minimization ⟺ s
    * maximization — the algebra drops the constant terms), and the
    * argmax threshold ties to the SMALLEST value.
    *
    * The candidate sweep costs one [[stripedPrefix]] pass — no
    * per-threshold rescan (the naive stump is O(values ×
    * corpus); this is one corpus rollup + one distinct-value pass,
    * the 100 TB shape). Counts and their squares live in
    * decimal(38,0); each candidate's s quantizes to NANO-units for an
    * exact long argmax (no float-rank flapping at the boundary).
    *
    * CAPACITY BOUND (decimal(38,0) headroom): the widest intermediate
    * is 2·1e9·(aSq·nr + bSq·nl) ≤ 4e9·n³, which overflows 38 digits —
    * and Spark's non-ANSI decimal overflow yields NULL, silently
    * dropping that candidate from the argmax — once n ≳ 2.9e9 rows
    * (4e9·n³ < 1e38 ⟺ n < 2.92e9; DuckDB HUGEINT has the same ~1.7e38
    * ceiling). Beyond ~3 billion rows per stump pass, rescale the 1e9
    * nano-unit to 1e6 (buys 10×) or pre-aggregate the feature. */
  def giniStump(documents: DataFrame, posLang: String = "en")
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pts = documents.select(col("n_chars").as("v"),
        (col("lang") === posLang).cast("long").as("y"))
      .groupBy("v")
      .agg(sum("y").as("n1"), sum(lit(1L) - col("y")).as("n0"))
    val c1 = col("below_n1") + col("n1")
    val c0 = col("below_n0") + col("n0")
    val cand = valueBelow(pts, Seq("n1", "n0"),
        sum("n1").as("__t1"), sum("n0").as("__t0"))
      .select(col("v"), col("__t0"), col("__t1"),
        c1.as("c1"), c0.as("c0"))
      .withColumn("nl", col("c0") + col("c1"))
      .withColumn("nr",
        col("__t0") + col("__t1") - col("c0") - col("c1"))
      .filter(col("nr") > 0)
    // s·1e9 as an EXACT half-up-rounded rational — (2·1e9·(A·nr+B·nl)
    // + nl·nr) div (2·nl·nr), all decimal(38,0) integer arithmetic (no
    // double ever touches the argmax boundary; the r9 driver hash-fail
    // was engine round() disagreeing at a float half-case here)
    val aSq = col("c0").cast(dec) * col("c0").cast(dec) +
      col("c1").cast(dec) * col("c1").cast(dec)
    val bSq = (col("__t0") - col("c0")).cast(dec) *
        (col("__t0") - col("c0")).cast(dec) +
      (col("__t1") - col("c1")).cast(dec) *
        (col("__t1") - col("c1")).cast(dec)
    val best = cand
      .withColumn("__num", (aSq * col("nr").cast(dec) +
        bSq * col("nl").cast(dec)) * lit(1000000000L).cast(dec))
      .withColumn("__den", col("nl").cast(dec) * col("nr").cast(dec))
      .select(col("__t0"), col("__t1"),
        struct(expr("(__num * 2 + __den) div (__den * 2)").as("s9"),
          (-col("v")).as("nv"), col("nl"), col("nr")).as("k"))
      .groupBy("__t0", "__t1").agg(max("k").as("best"))
    val n = (col("__t0") + col("__t1")).cast("double")
    val giniParent = lit(1.0) -
      (col("__t0").cast(dec) * col("__t0").cast(dec) +
        col("__t1").cast(dec) * col("__t1").cast(dec)).cast("double") /
      (n * n)
    best.select((-col("best.nv")).as("threshold"),
      col("best.nl").as("n_left"), col("best.nr").as("n_right"),
      round(giniParent -
        (lit(1.0) - col("best.s9").cast("double") / 1e9 / n), 6)
        .as("gini_gain"))
  }

  /** STANDARDIZED-MEAN-DIFFERENCE covariate balance table over the
    * [[md5Arm]] split — the pre-experiment hygiene check every A/B
    * readout should lead with (a "significant" treatment effect on
    * arms that differ at baseline is a randomization bug, not a
    * discovery; |SMD| < 0.1 is the conventional balance bar, and
    * unlike a t-test the SMD does not shrink with n — it measures the
    * imbalance itself): per user-level covariate (activity, spend,
    * conversion), SMD = (μ_B−μ_A)/√((s²_A+s²_B)/2).
    *
    * One user rollup to exact integer covariates, one conditional
    * wide aggregate (sums and square-sums in decimal(38,0)), a stack
    * to the covariate-bounded report — single corpus pass. */
  def covariateBalance(events: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val users = events.groupBy("user_id")
      .agg(count(lit(1)).as("c1"),
        sum(round(col("value") * 100).cast("long")).as("c2"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c3"))
      .select(md5Arm(col("user_id")).as("arm"), col("c1"), col("c2"),
        col("c3"))
    val aggs = Seq("c1", "c2", "c3").flatMap { c =>
      Seq("A", "B").flatMap { a =>
        Seq(sum(when(col("arm") === a, col(c))).cast(dec)
          .as(s"s_${c}_$a"),
          sum(when(col("arm") === a, col(c).cast(dec) * col(c)
            .cast(dec))).as(s"q_${c}_$a"))
      }
    } ++ Seq(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"))
    val w = users.agg(aggs.head, aggs.tail: _*)
    def stat(c: String, a: String, n: Column) = {
      val s = col(s"s_${c}_$a").cast("double")
      val q = col(s"q_${c}_$a").cast("double")
      val nD = n.cast("double")
      (s / nD, (nD * q - s * s) / (nD * (nD - 1.0)))
    }
    val exprs = Seq(("n_events", "c1", 1.0), ("spend_cents", "c2", 1.0),
      ("converted", "c3", 1.0)).map { case (name, c, _) =>
      val (ma, va) = stat(c, "A", col("na"))
      val (mb, vb) = stat(c, "B", col("nb"))
      struct(lit(name).as("covariate"),
        round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
        round((mb - ma) /
          nullif(sqrt((va + vb) / 2.0), lit(0.0)), 6).as("smd"))
    }
    w.select(explode(array(exprs: _*)).as("r"))
      .select(col("r.covariate"), col("r.mean_a"), col("r.mean_b"),
        col("r.smd"))
  }

  /** QINI / UPLIFT DECILE TABLE over the [[md5Arm]] split — the
    * TARGETING read-out the average treatment effect hides (st_did /
    * st_prop_test price the WHOLE population; uplift asks WHO to
    * treat: rank users by an engagement score, then per decile compare
    * treated vs control conversion — and the cumulative Qini curve
    * Q(k) = convT(≤k) − convC(≤k)·nT(≤k)/nC(≤k) is the incremental
    * conversions earned by treating only the top k deciles): score =
    * click/view cent volume (a pre-outcome engagement proxy,
    * documented), conversion = any purchase.
    *
    * One user rollup; deciles come from the DISTRIBUTED striped rank
    * over (score DESC, user_id) — never a single-task ntile over the
    * user corpus (the ml_ece_adaptive convention; r12 conversion):
    * rank r, decile = 1 + (r−1)·10 div n with identical integer
    * arithmetic in the DuckDB twin, ties pinned on user_id so both
    * engines cut identical deciles; cumulative sums over the 10-row
    * frame only. Exact integer counts; divisions at the close. */
  def qini(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint: the user rollup would otherwise re-run for
    // stripedRank's bounds/offsets/rank branches plus the count (r12
    // verdict item 5: measured 1.05 → 0.5 s isolated at sf0.1)
    val users = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"),
        coalesce(sum(when(col("event_type").isin("click", "view"),
          round(col("value") * 100).cast("long"))), lit(0L)).as("score"))
      .select(md5Arm(col("user_id")).as("arm"), col("conv"),
        col("score"), col("user_id"))
      .withColumn("__negs", lit(0L) - col("score"))
      .localCheckpoint(true)
    // count + stripe bounds in ONE pass over the checkpoint; __nu rides
    // the bounds broadcast into the ranked frame
    val pre = users.agg(min("__negs").as("__lo"), max("__negs").as("__hi"),
      count(lit(1)).as("__nu"))
    val cells = stripedRankWith(users, "__negs", "user_id", pre)
      .withColumn("decile",
        expr("1 + (r - 1) * 10 div __nu").cast("long"))
      .drop("r", "__negs", "__nu")
      .groupBy("decile")
      .agg(sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === "B", col("conv")).otherwise(0L))
          .as("conv_t"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === "A", col("conv")).otherwise(0L))
          .as("conv_c"))
    val wc = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.select(col("decile"), col("n_t"), col("n_c"), col("conv_t"),
      col("conv_c"),
      round(col("conv_t").cast("double") /
        nullif(col("n_t").cast("double"), lit(0.0)) -
        col("conv_c").cast("double") /
        nullif(col("n_c").cast("double"), lit(0.0)), 6).as("uplift"),
      round(sum("conv_t").over(wc).cast("double") -
        sum("conv_c").over(wc).cast("double") *
        (sum("n_t").over(wc).cast("double") /
          nullif(sum("n_c").over(wc).cast("double"), lit(0.0))), 6)
        .as("qini"))
  }

  /** HERFINDAHL–HIRSCHMAN concentration of revenue across customers —
    * st_gini's antitrust sibling (Gini measures inequality of the
    * whole distribution; HHI = Σ shareᵢ² is dominated by the LARGEST
    * players — the number that says whether losing one account is an
    * incident or an extinction event), plus the normalized form and
    * the effective customer count 1/HHI. Exact: cent totals per
    * customer, Σc and Σc² in decimal(38,0), one double formula. */
  def herfindahl(orders: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = orders.groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cc"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("cc").cast(dec)).as("s"),
      sum(col("cc").cast(dec) * col("cc").cast(dec)).as("s2"))
    val n = col("n").cast("double")
    val hhi = col("s2").cast("double") /
      (col("s").cast("double") * col("s").cast("double"))
    m.select(col("n").as("n_customers"),
      round(hhi, 6).as("hhi"),
      round((hhi - lit(1.0) / n) /
        nullif(lit(1.0) - lit(1.0) / n, lit(0.0)), 6).as("hhi_norm"),
      round(lit(1.0) / hhi, 4).as("effective_n"))
  }

  /** OVERDISPERSION check on daily event counts — the Poisson
    * assumption audit behind every count-based alert threshold: under
    * Poisson, Var = Mean; the dispersion index D = s²/x̄ with
    * z ≈ (D−1)·√((n−1)/2) flags clumped arrivals (D≫1 — bursts,
    * bots, batch jobs), where a Poisson-calibrated alert would page
    * constantly. One map-side rollup to the days-sized count frame,
    * one moment pass, 1-row formula. */
  def overdispersion(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    val daily = events.filter(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("c"))
    daily.agg(count(lit(1)).as("n_days"),
      avg("c").as("mean"), var_samp(col("c")).as("v"))
      .select(col("n_days"), round(col("mean"), 4).as("mean_count"),
        round(col("v"), 4).as("var_count"),
        round(col("v") / nullif(col("mean"), lit(0.0)), 6)
          .as("dispersion"),
        round((col("v") / nullif(col("mean"), lit(0.0)) - 1) *
          sqrt((col("n_days") - 1).cast("double") / 2.0), 4).as("z"))
  }

  /** CAPTURE–RECAPTURE population estimate (Chapman's corrected
    * Lincoln–Petersen): two observation windows "mark" users, and the
    * overlap rate sizes the UNSEEN population —
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1. The estimator behind "how many users
    * does this platform actually have when no window sees them all"
    * (and, in pipeline terms, corpus-size estimation from two crawl
    * snapshots). One pass collapses events to per-user window flags
    * (map-side combined), one rollup of three exact integers, one
    * division. */
  def captureRecapture(events: DataFrame,
                       w1End: String = "2024-01-08",
                       w2End: String = "2024-01-15"): DataFrame = {
    val (e1, e2) = (to_date(lit(w1End)), to_date(lit(w2End)))
    val flags = events.groupBy("user_id")
      .agg(max(col("ts") < e1).as("in1"),
        max(col("ts") >= e1 && col("ts") < e2).as("in2"))
    flags.agg(
      sum(when(col("in1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("in2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("in1") && col("in2"), 1L).otherwise(0L)).as("m"),
      count(lit(1)).as("seen_total"))
      .select(col("n1"), col("n2"), col("m"), col("seen_total"),
        round((col("n1") + 1) * (col("n2") + 1) /
          (col("m") + 1).cast("double") - 1.0, 2).as("n_estimate"))
  }

  /** HLL AUDIENCE-OVERLAP estimate — |A∩B| by inclusion–exclusion over
    * three mergeable sketches (|A|+|B|−|A∪B|): the overlap question
    * ("how many users both click and purchase") answered WITHOUT a
    * user-grain shuffle — each HLL partial-aggregates map-side and
    * merges associatively, so the same three sketches can live in a
    * per-day store and answer any date-range overlap by merge
    * ([[approxDistinct]]'s set-algebra face). The exact intersection
    * (one user-grain pass) rides alongside as the measured-error
    * column — at 100 TB you'd sample it; here it's the honesty check
    * the spec bounds. */
  def hllIntersect(events: DataFrame, typeA: String = "click",
                   typeB: String = "purchase",
                   rsd: Double = 0.02): DataFrame = {
    val inA = col("event_type") === typeA
    val inB = col("event_type") === typeB
    val sketches = events.filter(inA || inB).agg(
      approx_count_distinct(when(inA, col("user_id")), rsd).as("ca"),
      approx_count_distinct(when(inB, col("user_id")), rsd).as("cb"),
      approx_count_distinct(col("user_id"), rsd).as("cu"))
    val exact = events.filter(inA || inB)
      .groupBy("user_id")
      .agg(max(inA).as("a"), max(inB).as("b"))
      .filter(col("a") && col("b"))
      .agg(count(lit(1)).as("exact_intersection"))
    sketches.crossJoin(exact)
      .select(col("ca").as("est_a"), col("cb").as("est_b"),
        (col("ca") + col("cb") - col("cu")).as("est_intersection"),
        col("exact_intersection"),
        round(abs(col("ca") + col("cb") - col("cu") -
          col("exact_intersection")).cast("double") /
          nullif(col("exact_intersection").cast("double"), lit(0.0)), 6)
          .as("rel_err"))
  }

  /** FIXED-EFFECT META-ANALYSIS of the daily click-vs-view mean gap —
    * the stratified experiment readout: each day is an independent
    * stratum with its own effect dᵢ = x̄ᵢ−ȳᵢ and variance
    * se²ᵢ = s²ₓ/nₓ + s²ᵧ/nᵧ (Welch), pooled by inverse-variance
    * weights; Cochran's Q = Σwᵢ(dᵢ−d̄)² and I² = max(0, (Q−k+1)/Q)
    * say whether one pooled number is even honest (high I²: the
    * effect moves day to day — report strata, not the pool).
    * One conditional-moment pass to the days-sized stratum frame
    * (weights rounded 6dp so both engines pool identically), one
    * rollup. */
  def metaAnalysis(events: DataFrame, typeA: String = "click",
                   typeB: String = "view"): DataFrame = {
    val daily = events.filter(col("event_type").isin(typeA, typeB))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(when(col("event_type") === typeA, 1)).as("na"),
        avg(when(col("event_type") === typeA, col("value"))).as("ma"),
        var_samp(when(col("event_type") === typeA, col("value"))).as("va"),
        count(when(col("event_type") === typeB, 1)).as("nb"),
        avg(when(col("event_type") === typeB, col("value"))).as("mb"),
        var_samp(when(col("event_type") === typeB, col("value"))).as("vb"))
      .filter(col("na") > 1 && col("nb") > 1)
      .select(col("day"), round(col("ma") - col("mb"), 6).as("d"),
        round(lit(1.0) /
          (col("va") / col("na") + col("vb") / col("nb")), 6).as("w"))
    daily.agg(count(lit(1)).as("k"),
      sum(col("w") * col("d")).as("swd"), sum("w").as("sw"),
      sum(col("w") * col("d") * col("d")).as("swd2"))
      .select(col("k"),
        round(col("swd") / col("sw"), 6).as("pooled_effect"),
        round(sqrt(lit(1.0) / col("sw")), 6).as("pooled_se"),
        round(col("swd2") - col("swd") * col("swd") / col("sw"), 4)
          .as("q_het"),
        round(greatest(lit(0.0),
          (col("swd2") - col("swd") * col("swd") / col("sw") -
            col("k") + 1) /
            nullif(col("swd2") - col("swd") * col("swd") / col("sw"),
              lit(0.0))), 6).as("i2"))
  }

  /** CUPED variance reduction (controlled-experiment pre-period
    * adjustment): each user's post-period metric Y is debiased by their
    * own pre-period covariate X — Y' = Y − θ(X − X̄), θ = cov/var —
    * which cancels the stable between-user level differences and
    * shrinks the metric variance by exactly the squared correlation.
    * The report is the sizing number every experiment platform wants:
    * var_reduction ≈ ρ² means 1/(1−ρ²)× fewer users for the same
    * power. One map-side-combined shuffle collapses events to a row
    * per user (conditional pre/post sums — one pass, no second scan),
    * one moment pass over the users-sized frame, θ rounded 6dp before
    * the adjustment so both engines debias identically. */
  def cuped(events: DataFrame, splitDay: String = "2024-01-15")
      : DataFrame = {
    val pre = to_date(lit(splitDay))
    val perUser = events.groupBy("user_id")
      .agg(round(sum(when(col("ts") < pre, col("value"))
        .otherwise(lit(0.0))), 6).as("x"),
        round(sum(when(col("ts") >= pre, col("value"))
          .otherwise(lit(0.0))), 6).as("y"))
    val th = perUser.agg(
      round(covar_pop(col("x"), col("y")) /
        nullif(var_pop(col("x")), lit(0.0)), 6).as("theta"),
      round(avg("x"), 6).as("mx"))
    perUser.crossJoin(broadcast(th))
      .select(col("x"), col("y"), col("theta"),
        (col("y") - col("theta") * (col("x") - col("mx"))).as("yadj"))
      .agg(count(lit(1)).as("n"), max("theta").as("theta"),
        var_pop(col("y")).as("vy"), var_pop(col("yadj")).as("vadj"))
      .select(col("n"), col("theta"),
        round(col("vy"), 4).as("var_y"),
        round(col("vadj"), 4).as("var_adjusted"),
        round(lit(1.0) - col("vadj") / nullif(col("vy"), lit(0.0)), 6)
          .as("var_reduction"))
  }

  /** WALD'S SPRT (sequential probability ratio test) over the ordered
    * purchase outcomes — the always-on experiment monitor: instead of a
    * fixed-n test, the log-likelihood ratio walks one observation at a
    * time and the trial STOPS the moment it crosses ln((1−β)/α) (accept
    * H1: p = p1) or ln(β/(1−α)) (accept H0: p = p0), with the error
    * rates guaranteed by the boundaries. Reported: total observations,
    * the first-crossing index, the LLR there, and the verdict —
    * "how early could this test have stopped".
    *
    * Exactness and scale: the LLR is a function of INTEGER cumulative
    * counts (llrₙ = cumXₙ·ln(p1/p0) + (n−cumXₙ)·ln((1−p1)/(1−p0))), so
    * the running state is two exact integers — no float accumulation.
    * The prefix sums run striped: partitioned by calendar day with
    * day-offsets riding a broadcast ([[TextAnalysis.tokenBudgetSelect]]'s
    * distributed-prefix-sum shape) — no data-sized single-partition
    * window anywhere. First crossing is one min(struct) aggregate.
    * LLR rounds 6dp before the boundary compare (increments ~0.4, so a
    * 1e-6 boundary graze cannot flip the verdict). */
  def sprt(events: DataFrame, eventType: String = "purchase",
           threshold: Double = 50.0, p0: Double = 0.4, p1: Double = 0.6,
           alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (lw, ll) = (math.log(p1 / p0), math.log((1 - p1) / (1 - p0)))
    val upper = math.floor(math.log((1 - beta) / alpha) * 1e6 + 0.5) / 1e6
    val lower = math.floor(math.log(beta / (1 - alpha)) * 1e6 + 0.5) / 1e6
    val base = events.filter(col("event_type") === eventType)
      .select(unix_micros(col("ts")).as("t"), col("event_id"),
        (col("value") > threshold).cast("long").as("x"))
      .withColumn("day", floor(col("t") / lit(86400000000L)))
    val wIn = Window.partitionBy("day").orderBy("t", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wDay = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy("day")
      .agg(count(lit(1)).as("c"), sum("x").as("sx"))
      .select(col("day"),
        coalesce(sum("c").over(wDay), lit(0L)).as("offN"),
        coalesce(sum("sx").over(wDay), lit(0L)).as("offX"))
    val cum = base.join(broadcast(offs), "day")
      .withColumn("n", col("offN") + count(lit(1)).over(wIn))
      .withColumn("cx", col("offX") + sum("x").over(wIn))
      .withColumn("llr",
        round(col("cx") * lw + (col("n") - col("cx")) * ll, 6))
    cum.agg(count(lit(1)).as("n_total"),
      min(when(col("llr") >= upper || col("llr") <= lower,
        struct(col("n"), col("llr")))).as("st"))
      .select(col("n_total"), col("st.n").as("stop_n"),
        col("st.llr").as("llr_stop"),
        when(col("st.llr") >= upper, "accept_h1")
          .when(col("st.llr") <= lower, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** RIDGE REGULARIZATION PATH in correlation form — how the two
    * standardized coefficients shrink as the penalty grows (the
    * collinearity diagnostic: correlated regressors trade weight
    * wildly at λ=0 and collapse together as λ rises; a coefficient
    * that flips sign along the path is borrowing its effect from its
    * neighbor). Standardizing reduces ridge to the 2×2 correlation
    * system (R+λI)b = r, solved in closed form per grid point from
    * THREE Pearson correlations — one moment pass over the table,
    * correlations rounded 6dp before the solve ([[partialCorr]]
    * discipline: both engines walk identical doubles), the grid
    * unpacks from the 1-row moment frame. λ=0 reproduces standardized
    * OLS ([[ols2]]'s slopes times sd ratios — spec-locked). */
  def ridgePath(df: DataFrame, y: String, x1: String, x2: String,
                lambdas: Seq[Double] = Seq(0.0, 0.1, 0.5, 1.0, 5.0))
      : DataFrame = {
    val m = df.agg(count(lit(1)).as("n"),
      round(corr(col(x1), col(x2)), 6).as("r12"),
      round(corr(col(x1), col(y)), 6).as("r1y"),
      round(corr(col(x2), col(y)), 6).as("r2y"))
    m.select(col("n"), col("r12"), col("r1y"), col("r2y"),
      explode(array(lambdas.map(l => lit(l)): _*)).as("lambda"))
      .withColumn("det",
        (lit(1.0) + col("lambda")) * (lit(1.0) + col("lambda")) -
          col("r12") * col("r12"))
      .select(col("lambda"), col("n"),
        round(((lit(1.0) + col("lambda")) * col("r1y") -
          col("r12") * col("r2y")) / nullif(col("det"), lit(0.0)), 6)
          .as("b1_std"),
        round(((lit(1.0) + col("lambda")) * col("r2y") -
          col("r12") * col("r1y")) / nullif(col("det"), lit(0.0)), 6)
          .as("b2_std"))
      .orderBy("lambda")
  }

  /** BOX–COX power-transform selection by profile log-likelihood over a
    * λ grid — the "should this skewed measure be logged, square-rooted,
    * or left alone before modeling" question answered by the data:
    * ll(λ) = −n/2·ln σ²(y⁽λ⁾) + (λ−1)Σln y, y⁽λ⁾ = (yᵡ−1)/λ (ln y at
    * λ=0). ONE full-scan aggregate computes every λ's moments side by
    * side (grid-many sum pairs + Σln y in a single partial-agg pass —
    * no per-λ rescan, no row explosion); the 1-row result unpacks to a
    * grid-sized frame with the argmax flagged. Requires y > 0 (the
    * events value column is, by contract). Log-normal-picks-0 +
    * already-normal-picks-1 specs. */
  def boxCoxScan(events: DataFrame,
                 lambdas: Seq[Double] = Seq(-1.0, -0.5, 0.0, 0.5, 1.0, 2.0))
      : DataFrame = {
    val y = col("value")
    def t(l: Double) =
      if (l == 0.0) log(y) else (pow(y, lit(l)) - 1) / lit(l)
    val aggs = lambdas.zipWithIndex.flatMap { case (l, i) =>
      Seq(sum(t(l)).as(s"m$i"), sum(t(l) * t(l)).as(s"q$i"))
    } ++ Seq(sum(log(y)).as("slny"), count(lit(1)).as("n"))
    val m = events.agg(aggs.head, aggs.tail: _*)
    val g = m.select(col("n").cast("double").as("n"), col("slny"),
      explode(array(lambdas.zipWithIndex.map { case (l, i) =>
        struct(lit(l).as("lambda"), col(s"m$i").as("mm"),
          col(s"q$i").as("qq"))
      }: _*)).as("g"))
    g.select(col("g.lambda").as("lambda"),
      round(lit(-0.5) * col("n") *
        log(col("g.qq") / col("n") -
          (col("g.mm") / col("n")) * (col("g.mm") / col("n"))) +
        (col("g.lambda") - 1) * col("slny"), 4).as("ll"))
      .withColumn("best", col("ll") === max(col("ll")).over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)))
      .orderBy("lambda")
  }

  /** PARTIAL CORRELATION between the hourly click and view series
    * CONTROLLING for the purchase series — "does x↔y survive once the
    * common driver z is held fixed": a shared driver manufactures
    * correlation between otherwise-independent series (the classic
    * confounder), and r_xy·z = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²))
    * subtracts exactly the part z explains. One pass aligns the three
    * hourly series, one moment pass yields the three pairwise Pearsons
    * (each rounded 6dp BEFORE the closed form, so both engines walk
    * identical doubles), 1-row formula. Confounder-planted and
    * independent-controls specs. */
  def partialCorr(events: DataFrame, typeA: String = "click",
                  typeB: String = "view",
                  ctrl: String = "purchase"): DataFrame = {
    val hourly = Resample.alignedHourly(events, typeA, typeB, ctrl)
    hourly.agg(count(lit(1)).as("n"),
      round(corr(col("x"), col("y")), 6).as("rxy"),
      round(corr(col("x"), col("z")), 6).as("rxz"),
      round(corr(col("y"), col("z")), 6).as("rzy"))
      .select(col("n"), col("rxy"),
        round((col("rxy") - col("rxz") * col("rzy")) /
          nullif(sqrt((lit(1.0) - col("rxz") * col("rxz")) *
            (lit(1.0) - col("rzy") * col("rzy"))), lit(0.0)), 6)
          .as("partial_r"))
  }

  /** MAHALANOBIS multivariate outlier scoring over per-user behaviour
    * features (event count, mean value) — the anomaly score per-axis
    * z-scores miss: a user can be unremarkable on EACH feature yet sit
    * far off the correlation ridge (many events × atypical mean), and
    * d² = (p−μ)ᵀΣ⁻¹(p−μ) charges exactly that. Affine-invariant:
    * rescaling a feature does not move anyone's score (spec-locked).
    *
    * Scale: one map-side-combined shuffle collapses events to a row
    * per user; one single-pass moment agg over that (users-sized, not
    * events-sized) frame; the 1-row moment frame rides back as a
    * broadcast — the 2×2 covariance inverts in closed form (adjugate /
    * det), no driver linear algebra, no second pass over events. Input
    * means round to 6dp and d² to 4dp so both engines walk identical
    * doubles; det guards through nullif for degenerate slices. */
  def mahalanobisOutliers(events: DataFrame, topK: Int = 10): DataFrame = {
    val feats = events.groupBy("user_id")
      .agg(count(lit(1)).cast("double").as("y"),
        (Exact.avgValueMicros.cast("double") / lit(1e6)).as("x"))
    val m = feats.agg(avg("x").as("mx"), avg("y").as("my"),
      var_pop(col("x")).as("vx"), var_pop(col("y")).as("vy"),
      covar_pop(col("x"), col("y")).as("cxy"))
    feats.crossJoin(broadcast(m))
      .withColumn("d2", round(
        ((col("x") - col("mx")) * (col("x") - col("mx")) * col("vy")
          - lit(2.0) * (col("x") - col("mx")) * (col("y") - col("my"))
            * col("cxy")
          + (col("y") - col("my")) * (col("y") - col("my")) * col("vx"))
          / nullif(col("vx") * col("vy") - col("cxy") * col("cxy"),
            lit(0.0)), 4))
      .orderBy(col("d2").desc, col("user_id"))
      .select(col("user_id"), col("x").as("mean_value"),
        col("y").as("n_events"), col("d2"))
      .limit(topK)
  }

  /** Two-sample CRAMÉR–VON MISES T between groups `ga` and `gb` — the
    * whole-distribution companion to [[ksTest]]'s max-gap and
    * [[mannWhitneyU]]'s location shift: T integrates the SQUARED gap
    * between the two ECDFs, so it catches spread/shape differences a
    * median test misses and is more powerful than KS against diffuse
    * alternatives (Anderson 1962 rank form).
    *
    * Exactness: the rank form U = N·Σ(rᵢ−i)² + M·Σ(sⱼ−j)² stays in
    * INTEGER arithmetic. Per distinct value class (ca from A, cb from
    * B, t = ca+cb), every A member shares midrank below + (t+1)/2 and
    * occupies own-sample slots belowA+1..belowA+ca, so with the odd
    * integer D = 2·(below − belowA) + t + 1,
    *   4·Σ_class(r−i)² = ca·D² − 2·D·ca·(ca+1) + 2·ca·(ca+1)·(2ca+1)/3
    * is an exact long on any engine and any partitioning
    * ([[stripedPrefix]] below-counts; no global single-partition sort).
    * The two sample sums widen to decimal(38,0) before the N·/M·
    * products (the long bound 4N³ passes ~10⁸ rows — loud ANSI
    * overflow beyond, never silent), and the single final division to
    * doubles happens on bit-identical exact inputs. */
  def cramerVonMises(df: DataFrame, groupCol: String, c: String,
                     ga: String, gb: String): DataFrame = {
    // 4·Σ(r−i)² per class for one sample (its count cg, its D): the
    // DIV keeps the whole term in long arithmetic (2·cg·(cg+1)·(2cg+1)
    // is always divisible by 3)
    def quad(cg: String, d: String): Column = expr(
      s"CASE WHEN $cg = 0 THEN 0 ELSE $cg*$d*$d - 2*$d*$cg*($cg+1)" +
        s" + (2*$cg*($cg+1)*(2*$cg+1)) DIV 3 END")
    val s = twoSampleBelow(df, groupCol, c, ga, gb, "t", "ca")
      .withColumnRenamed("below_t", "below")
      .withColumnRenamed("below_ca", "belowA")
      .withColumn("belowB", col("below") - col("belowA"))
      .withColumn("__da",
        lit(2L) * (col("below") - col("belowA")) + col("t") + lit(1L))
      .withColumn("__db",
        lit(2L) * (col("below") - col("belowB")) + col("t") + lit(1L))
      .withColumn("qa", quad("ca", "__da"))
      .withColumn("qb", quad("cb", "__db"))
      .agg(sum("qa").as("sa4"), sum("qb").as("sb4"),
        max("__na").as("na"), max("__nb").as("nb"))
    val dec = "decimal(38,0)"
    val u4 = col("na").cast(dec) * col("sa4").cast(dec) +
      col("nb").cast(dec) * col("sb4").cast(dec)
    val nm = col("na").cast(dec) * col("nb").cast(dec)
    val nT = col("na") + col("nb")
    s.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(
        u4.cast("double") / 4.0 /
          (nm * nT.cast(dec)).cast("double") -
          ((lit(4).cast(dec) * nm - lit(1)).cast("double") /
            (lit(6.0) * nT.cast("double"))), 6).as("t_stat"))
  }

  /** Per-query ranked frame shared by the IR-eval pair [[ndcgAtK]] /
    * [[mrr]]: rank = row_number by score desc with the caller's id as
    * the deterministic tiebreak. The window partitions on the QUERY
    * key — per-query candidate lists are retrieval-sized (top-N from
    * ann_*), so the sort is list-local; nothing global. */
  private def rankedByQuery(df: DataFrame, query: Column, score: Column,
                            rel: Column, id: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query")
      .orderBy(col("score").desc, col("id"))
    df.select(query.as("query"), score.as("score"), rel.as("rel"),
        id.as("id"))
      .withColumn("rank", row_number().over(w))
  }

  /** NDCG@k per query — THE graded ranking metric for the retrieval
    * surfaces (ann_* give the lists; this grades them): DCG discounts
    * each gain (2^rel − 1) by log2(rank+1), normalized by the ideal
    * ordering's DCG so queries with different relevance budgets
    * compare on one [0,1] scale.
    *
    * Exactness: each discount term rounds to integer MICRO-units
    * before summing (the ml_nb log-prob discipline) — the sums are
    * exact longs on any engine/partitioning and the single ndcg
    * division runs on identical integers. Ideal ranking ties on rel
    * don't matter: equal rel ⇒ equal term. */
  def ndcgAtK(df: DataFrame, query: Column, score: Column, rel: Column,
              id: Column, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = rankedByQuery(df, query, score, rel, id)
    val wi = Window.partitionBy("query")
      .orderBy(col("rel").desc, col("id"))
    def term(rk: Column): Column =
      round((pow(lit(2.0), col("rel")) - 1.0) /
        log2(rk.cast("double") + 1.0) * 1e6).cast("long")
    ranked.withColumn("irank", row_number().over(wi))
      .groupBy("query")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("rank") <= k, term(col("rank"))).otherwise(0L))
          .as("dcg_u"),
        sum(when(col("irank") <= k, term(col("irank"))).otherwise(0L))
          .as("idcg_u"))
      .select(col("query"), col("n_items"),
        round(col("dcg_u") / lit(1e6), 6).as("dcg_at_k"),
        round(col("dcg_u") /
          nullif(col("idcg_u").cast("double"), lit(0.0)), 6)
          .as("ndcg_at_k"))
  }

  /** Reciprocal rank per query (first result with rel ≥ `relMin`) —
    * the "how deep must the user scroll" metric next to [[ndcgAtK]]'s
    * graded view; queries with no relevant hit report rank 0 / rr 0.
    * Same ranked frame, one rollup; 1/rank divides two exact ints. */
  def mrr(df: DataFrame, query: Column, score: Column, rel: Column,
          id: Column, relMin: Int = 2): DataFrame =
    rankedByQuery(df, query, score, rel, id)
      .groupBy("query")
      .agg(count(lit(1)).as("n_items"),
        coalesce(min(when(col("rel") >= relMin, col("rank"))), lit(0))
          .cast("long").as("first_rel_rank"))
      .select(col("query"), col("n_items"), col("first_rel_rank"),
        when(col("first_rel_rank") === 0L, 0.0)
          .otherwise(round(lit(1.0) / col("first_rel_rank"), 6))
          .as("rr"))

  /** DISTANCE CORRELATION between the paired hourly series — the
    * energy-statistics dependence measure that is ZERO only under
    * independence (Pearson/Spearman are blind to symmetric nonlinear
    * structure — y = |x| scores r ≈ 0 but dCor ≈ 0.5): double-center
    * the pairwise |Δx| and |Δy| matrices, dCov² = mean(A∘B), dCor =
    * dCov/√(dVarₓ·dVar_y).
    *
    * Exactness: values quantize to exact micro-ints, every row/grand
    * mean divides exact long sums (identical doubles), and each A·B
    * product term quantizes to integer units before the unordered n²
    * sum. Scale: the n² pair frame is over the HOURLY series — time-
    * bounded, not data-bounded (the 100 TB corpus still collapses to
    * the same hours first); the pair join is an equi-join-free
    * crossJoin of a calendar-sized frame, documented as such. */
  def distanceCorrelation(events: DataFrame, typeA: String = "click",
                          typeB: String = "view"): DataFrame = {
    val h = Resample.alignedHourly(events, typeA, typeB)
      .select(col("hr"), round(col("x") * 1e6).cast("long").as("xu"),
        round(col("y") * 1e6).cast("long").as("yu"))
      .localCheckpoint(true)
    val n1 = h.count().toDouble
    val i = h.select(col("hr").as("hi"), col("xu").as("xi"),
      col("yu").as("yi"))
    val j = h.select(col("hr").as("hj"), col("xu").as("xj"),
      col("yu").as("yj"))
    val pairs = i.crossJoin(j)
      .withColumn("ax", abs(col("xi") - col("xj")))
      .withColumn("ay", abs(col("yi") - col("yj")))
      .localCheckpoint(true)
    val rowM = pairs.groupBy("hi")
      .agg(sum("ax").as("rx"), sum("ay").as("ry"))
    val colM = pairs.groupBy("hj")
      .agg(sum("ax").as("cx"), sum("ay").as("cy"))
    val grand = pairs.agg(sum("ax").as("gx"), sum("ay").as("gy"))
    val a = col("ax") / lit(1e6) - col("rx") / lit(1e6) / n1 -
      col("cx") / lit(1e6) / n1 + col("gx") / lit(1e6) / (n1 * n1)
    val b = col("ay") / lit(1e6) - col("ry") / lit(1e6) / n1 -
      col("cy") / lit(1e6) / n1 + col("gy") / lit(1e6) / (n1 * n1)
    val scored = pairs
      .join(rowM, Seq("hi")).join(colM, Seq("hj"))
      .crossJoin(broadcast(grand))
      .agg(sum(round(a * b * 1e6).cast("long")).as("sab"),
        sum(round(a * a * 1e6).cast("long")).as("saa"),
        sum(round(b * b * 1e6).cast("long")).as("sbb"))
    scored.select(lit(n1.toLong).as("n_hours"),
      round(
        sqrt(greatest(col("sab").cast("double"), lit(0.0)) / (n1 * n1)) /
          nullif(sqrt(sqrt(
            (col("saa").cast("double") / (n1 * n1)) *
              (col("sbb").cast("double") / (n1 * n1)))), lit(0.0)),
        6).as("dcor"))
  }

  /** ANCOVA-adjusted group means — "which event type is really worth
    * more, once you control for WHEN it happens": raw group means
    * confound the group effect with covariate mix (a type that fires
    * at high-value hours looks better than it is); the one-way ANCOVA
    * adjustment fits a common within-group slope b on the covariate
    * (hour-of-day here) and reports ȳ_g − b·(x̄_g − x̄) — the group
    * means moved to a common covariate level.
    *
    * Exactness: y quantizes to cents and x is an exact integer hour;
    * the pooled slope b = ΣS_xy/ΣS_xx uses per-group moment terms
    * ROUNDED to integer units before the k-row sums (aggregation-order
    * free, the tukeyHsd ssw_q discipline), and every adjusted mean
    * derives from exact longs. ONE corpus pass to the k-row frame. */
  def ancovaAdjustedMeans(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val hr = hour(col("ts")).cast("long")
    val g = events.groupBy(col("event_type").as("grp"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sy"),
        sum(hr).as("sx"), sum(hr * cents).as("sxy"),
        sum(hr * hr).as("sxx"))
      .withColumn("qxy",
        round(col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") /
            col("n")).cast("long"))
      .withColumn("qxx",
        round(col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") /
            col("n")).cast("long"))
    val tot = g.agg(sum("n").as("nt"), sum("sx").as("sxt"),
      sum("qxy").as("qxyt"), sum("qxx").as("qxxt"))
    val b = col("qxyt").cast("double") /
      nullif(col("qxxt").cast("double"), lit(0.0))
    g.crossJoin(broadcast(tot))
      .select(col("grp").as("event_type"), col("n"),
        round(col("sy").cast("double") / col("n") / 100.0, 4)
          .as("raw_mean"),
        round((col("sy").cast("double") / col("n") -
          b * (col("sx").cast("double") / col("n") -
            col("sxt").cast("double") / col("nt"))) / 100.0, 4)
          .as("adjusted_mean"),
        round(b / 100.0, 6).as("common_slope_per_hour"))
  }

  /** COCHRAN–ARMITAGE trend test — "does the conversion rate RISE
    * with exposure", the ordered-groups question [[chiSquare]] wastes
    * power on (χ² treats bands as unordered categories; CA spends its
    * single degree of freedom on the monotone trend): users band by
    * activity (integer scores w = 0..k), T = Σwᵢkᵢ − p̄Σwᵢnᵢ,
    * Var = p̄(1−p̄)(Σw²n − (Σwn)²/N). One user rollup (map-side
    * combined), one band rollup, a 1-row formula — every input an
    * exact long until the final division/sqrt. */
  def cochranArmitage(events: DataFrame, minValue: Double = 95.0,
                      bandWidth: Int = 20, maxBand: Int = 3)
      : DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase" &&
          col("value") > minValue, 1L).otherwise(0L)).as("conv"))
      .withColumn("w",
        least(expr(s"n_ev DIV $bandWidth"), lit(maxBand.toLong)))
    val g = perUser.groupBy("w")
      .agg(count(lit(1)).as("n"), sum("conv").as("k"))
    val t = g.agg(sum("n").as("nt"), sum("k").as("kt"),
      sum(col("w") * col("n")).as("swn"),
      sum(col("w") * col("k")).as("swk"),
      sum(col("w") * col("w") * col("n")).as("swwn"),
      count(lit(1)).as("n_bands"))
    val p = col("kt").cast("double") / col("nt")
    val tStat = col("swk").cast("double") - p * col("swn")
    val varT = p * (lit(1.0) - p) *
      (col("swwn").cast("double") -
        col("swn").cast("double") * col("swn") / col("nt"))
    t.select(col("n_bands"), col("nt").as("n_users"),
      round(p, 6).as("overall_rate"),
      round(tStat / nullif(sqrt(varT), lit(0.0)), 4).as("z"))
  }

  /** Paired SIGN TEST on the aligned hourly series — the
    * assumption-free floor of the paired family ([[wilcoxonSignedRank]]
    * needs symmetric differences, [[pairedTTest]] normal ones; the
    * sign test needs only that ties are rare): count hours where x > y
    * vs x < y, z = (n⁺−n⁻)/√(n⁺+n⁻) under the fair-coin null. Ties
    * drop by convention and are reported. Differences round to 6dp
    * BEFORE the sign so both engines discard identical ties; one
    * hour-bounded pass, three exact counts. */
  def signTest(events: DataFrame, typeA: String = "click",
               typeB: String = "view"): DataFrame = {
    val d = round(col("x") - col("y"), 6)
    Resample.alignedHourly(events, typeA, typeB)
      .agg(sum(when(d > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(d < 0, 1L).otherwise(0L)).as("n_neg"),
        sum(when(d === 0, 1L).otherwise(0L)).as("n_ties"))
      .select(col("n_pos"), col("n_neg"), col("n_ties"),
        round((col("n_pos") - col("n_neg")) /
          nullif(sqrt((col("n_pos") + col("n_neg")).cast("double")),
            lit(0.0)), 4).as("z"))
  }

  /** Two-sample ENERGY DISTANCE between groups — the metric-space
    * companion to [[cramerVonMises]]'s rank view (and
    * [[distanceCorrelation]]'s two-sample sibling): E = 2·E|X−Y| −
    * E|X−X'| − E|Y−Y'| ≥ 0 with equality iff the distributions match —
    * sensitive to ANY difference and generalizing verbatim to vector
    * data where rank tests stop existing.
    *
    * Exactness: pairwise |Δ| on micro-int values are exact longs, the
    * three pair sums are exact longs, and the statistic is three
    * divisions on bit-identical integers. Scale: the pair frames are
    * over per-group HOURLY collapses (time-bounded — the corpus never
    * self-joins); cross/self pair counts are calendar²-sized. */
  def energyDistance(events: DataFrame, typeA: String = "click",
                     typeB: String = "view"): DataFrame = {
    val h = events.filter(col("event_type").isin(typeA, typeB))
      .groupBy(col("event_type"), Resample.hourKey.as("hr"))
      .agg(Exact.avgValueMicros.as("vu"))
      .localCheckpoint(true)
    val a = h.filter(col("event_type") === typeA)
      .select(col("vu").as("xa"))
    val b = h.filter(col("event_type") === typeB)
      .select(col("vu").as("xb"))
    val xy = a.crossJoin(b)
      .agg(sum(abs(col("xa") - col("xb"))).as("sxy"),
        count(lit(1)).as("nm"))
    val xx = a.crossJoin(a.select(col("xa").as("xa2")))
      .agg(sum(abs(col("xa") - col("xa2"))).as("sxx"),
        count(lit(1)).as("nn"))
    val yy = b.crossJoin(b.select(col("xb").as("xb2")))
      .agg(sum(abs(col("xb") - col("xb2"))).as("syy"),
        count(lit(1)).as("mm"))
    xy.crossJoin(broadcast(xx)).crossJoin(broadcast(yy))
      .select(col("nm"), round(
        (lit(2.0) * col("sxy") / col("nm") -
          col("sxx").cast("double") / col("nn") -
          col("syy").cast("double") / col("mm")) / lit(1e6), 6)
        .as("energy_dist"))
  }

  /** CIRCULAR statistics of event TIME-OF-DAY per type — mean
    * direction and resultant length on the 24 h circle, the right
    * answer where a linear mean is nonsense (events at 23:00 and 01:00
    * average to midday linearly, midnight circularly): θ = 2π·(seconds
    * since midnight)/86400, R̄ = |Σe^{iθ}|/n (1 = perfectly phase-
    * locked, 0 = uniform), mean hour = atan2 of the component sums.
    * Each sin/cos term quantizes to MICRO-units before the corpus sum
    * (exact longs, partition-invariant — and the 1e-6 quantum sits 6
    * orders above a cross-engine libm ulp, so no term can round
    * differently); the one atan2/sqrt at the end runs on identical
    * integers. ONE conditional pass, k-row output. */
  def circularTime(events: DataFrame): DataFrame = {
    val frac = (unix_seconds(col("ts")) % 86400L).cast("double") /
      lit(86400.0)
    val theta = frac * lit(2.0 * math.Pi)
    val cu = round(cos(theta) * 1e6).cast("long")
    val su = round(sin(theta) * 1e6).cast("long")
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(cu).as("sc"), sum(su).as("ss"))
      .select(col("event_type"), col("n"),
        round((atan2(col("ss").cast("double"), col("sc").cast("double"))
          / lit(2.0 * math.Pi) * 24.0 + 24.0) % 24.0, 4)
          .as("mean_hour"),
        round(sqrt(col("sc").cast("double") * col("sc") +
          col("ss").cast("double") * col("ss")) / lit(1e6) / col("n"),
          6).as("resultant"))
  }

  /** DEMING regression on the paired hourly series — the
    * errors-in-BOTH-variables line that completes the method-comparison
    * family ([[linCcc]] scores agreement, [[blandAltman]] bounds bias,
    * this fits the calibration line when NEITHER instrument is the
    * gold standard — plain OLS attenuates the slope toward 0 whenever
    * x carries noise): with equal error variances (λ=1),
    * β = (s_yy − s_xx + √((s_yy−s_xx)² + 4·s_xy²)) / (2·s_xy).
    *
    * Exactness: the aligned hourly pairs are pre-rounded, scale to
    * exact 1e6 integers, and the moment sums run in decimal(38,0)
    * (squares of 1e9-scale values overflow longs) — every double both
    * engines walk derives from the same exact integers. One pass over
    * the hour-bounded frame, 1-row closed form. */
  def demingRegression(events: DataFrame, typeA: String = "click",
                       typeB: String = "view"): DataFrame = {
    val dec = "decimal(38,0)"
    val h = Resample.alignedHourly(events, typeA, typeB)
      .select(round(col("x") * 1e6).cast("long").as("x6"),
        round(col("y") * 1e6).cast("long").as("y6"))
    val m = h.agg(count(lit(1)).as("n"),
      sum(col("x6").cast(dec)).as("sx"),
      sum(col("y6").cast(dec)).as("sy"),
      sum((col("x6") * col("x6")).cast(dec)).as("sxx"),
      sum((col("y6") * col("y6")).cast(dec)).as("syy"),
      sum((col("x6") * col("y6")).cast(dec)).as("sxy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val mx = d("sx") / n
    val my = d("sy") / n
    val cxx = d("sxx") / n - mx * mx
    val cyy = d("syy") / n - my * my
    val cxy = d("sxy") / n - mx * my
    val beta = (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx) +
      lit(4.0) * cxy * cxy)) / nullif(lit(2.0) * cxy, lit(0.0))
    m.select(col("n").as("n_hours"),
      round(beta, 6).as("slope"),
      round((my - beta * mx) / lit(1e6), 6).as("intercept"))
  }

  /** WILSON score interval per group — the proportion CI that stays
    * inside [0,1] and behaves at extreme rates where the Wald interval
    * ([[propTest]]'s ±z√(p(1−p)/n)) collapses to zero width at p=0/1:
    * center (p̂ + z²/2n)/(1+z²/n), half-width z√(p̂(1−p̂)/n + z²/4n²)/
    * (1+z²/n). The reporting surface for per-segment conversion rates
    * with honest uncertainty. One conditional-count pass to the k-row
    * group frame; all doubles derive from two exact longs per group. */
  def wilsonCi(df: DataFrame, groupCol: String, success: Column,
               z: Double = 1.96): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("k"))
    val n = col("n").cast("double")
    val p = col("k") / n
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n)) / denom
    g.select(col("grp"), col("n"), col("k"),
      round(p, 6).as("p_hat"),
      round(center - half, 6).as("ci_lo"),
      round(center + half, 6).as("ci_hi"))
  }

  /** TWO-RATE POISSON test between two event streams over the same
    * observation window ("did errors arrive FASTER than signups") —
    * the count-data A/B primitive next to [[propTest]]'s proportion
    * one: conditional on the total, n₁ ~ Binomial(n, ½) under equal
    * rates, giving the exact-integer z = (n₁−n₂)/√(n₁+n₂). ONE
    * conditional-count pass; everything derives from two exact longs. */
  def poissonTwoRate(events: DataFrame, typeA: String = "error",
                     typeB: String = "signup"): DataFrame =
    events.agg(
      sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round(col("n_a") / nullif(col("n_b").cast("double"), lit(0.0)),
          6).as("rate_ratio"),
        round((col("n_a") - col("n_b")) /
          nullif(sqrt((col("n_a") + col("n_b")).cast("double")),
            lit(0.0)), 4).as("z"))

  /** TUKEY HSD pairwise ladder after [[anovaF]] — the post-hoc answer
    * to "WHICH segment pairs actually differ" once the omnibus F says
    * something does; running all k(k−1)/2 z-tests instead inflates
    * family error (that's [[holmBonferroni]]'s problem — HSD bakes the
    * correction into the studentized-range statistic q = |mᵢ−mⱼ|/SE,
    * SE = √(MSE/2·(1/nᵢ+1/nⱼ))).
    *
    * Exactness: values quantize to integer cents, per-group moments
    * are exact long power sums (n, Σc, Σc²), the per-group SSW term
    * (s2 − s1²/n) rounds to an integer cents² unit BEFORE the k-row
    * sum — so the pooled MSE is independent of aggregation order and
    * both engines walk identical doubles into the one round(4). (The
    * long power sums pass ~10⁸ rows per group at these magnitudes;
    * beyond, widen to decimal(38,0) — loud ANSI overflow, not silent.)
    * Scale: ONE map-side-combined pass to the k-row group frame; the
    * pair ladder is a k²-row self-join on that stat frame
    * (parameter-sized), never on the corpus. */
  def tukeyHsd(df: DataFrame, groupCol: String, c: String,
               qCrit: Double = 4.03): DataFrame = {
    val cents = round(col(c) * 100).cast("long")
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s1"),
        sum(cents * cents).as("s2"))
      // floor convention — same rational-half trap as bartlettTest
      .withColumn("ssw_q",
        floor(col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") /
            col("n") + 0.5).cast("long"))
    val tot = g.agg(sum("n").as("nt"), count(lit(1)).as("k"),
      sum("ssw_q").as("ssw_c2"))
    val mse = col("ssw_c2") / lit(1e4) / (col("nt") - col("k"))
    val a = g.select(col("grp").as("group_a"), col("n").as("n_a"),
      (col("s1").cast("double") / col("n") / 100.0).as("ma"))
    val b = g.select(col("grp").as("group_b"), col("n").as("n_b"),
      (col("s1").cast("double") / col("n") / 100.0).as("mb"))
    a.join(b, col("group_a") < col("group_b"))
      .crossJoin(broadcast(tot))
      .select(col("group_a"), col("group_b"),
        col("n_a"), col("n_b"),
        round(col("ma") - col("mb"), 6).as("mean_diff"),
        round(abs(col("ma") - col("mb")) /
          sqrt(mse / 2.0 * (lit(1.0) / col("n_a") +
            lit(1.0) / col("n_b"))), 4).as("q_stat"),
        (abs(col("ma") - col("mb")) /
          sqrt(mse / 2.0 * (lit(1.0) / col("n_a") +
            lit(1.0) / col("n_b"))) > qCrit).as("significant"))
  }

  /** HODGES–LEHMANN location estimator per event type — the robust
    * "center" the mean/median pair brackets but neither nails: the
    * median of all WALSH AVERAGES (vᵢ+vⱼ)/2, i ≤ j (the estimator the
    * Wilcoxon signed-rank test inverts; 29% breakdown, ~95% Gaussian
    * efficiency vs the median's 64%). One gross outlier day moves it
    * barely; st_describe's mean follows the outlier.
    *
    * Scale shape: Walsh pairs are taken over the CALENDAR-BOUNDED
    * per-day means (days² pairs per type — never data²; the daily
    * rollup is the only data-sized pass). Daily means micro-quantize
    * to longs, pair sums are exact longs, and both engines interpolate
    * the same median index over identical integers (sums < 2⁵³ keep
    * even-count midpoints exact in double); one display division at
    * the close. */
  /** DIFFERENCE-IN-DIFFERENCES estimator (r9 — the quasi-experimental
    * member of the experimentation family: st_cuped reduces variance
    * WITHIN a randomized test, DiD estimates an effect when treatment
    * arrived at a known TIME and only one group got it, netting out
    * both the stable group gap and the shared time trend):
    * DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), with the
    * large-sample SE = √(Σ s²ᵢ/nᵢ) over the four cells and the t
    * ratio. Groups are the ONE [[md5Arm]] split every experiment
    * surface shares (B = treated), period splits at the cutover date.
    *
    * One partial-agg pass to the 4-cell frame: per cell n, Σv, Σv² on
    * micro-quantized longs (Σv² in decimal(38,0)/HUGEINT), means and
    * sample variances formed from identical exact integers on both
    * engines, three doubles at the close (did, se, t). Parallel-trends
    * is the stated identifying assumption — ts_xcorr/ts_rolling_corr
    * are the diagnostics, not this operator. */
  def diffInDiff(events: DataFrame,
                 cutover: String = "2024-01-15"): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = events.select(
        md5Arm(col("user_id")).as("arm"),
        when(col("ts") < to_date(lit(cutover)), "pre").otherwise("post")
          .as("period"),
        round(col("value") * 1e6).cast("long").as("v"))
      .groupBy("arm", "period")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("s"),
        sum(col("v").cast(dec) * col("v").cast(dec)).cast(dec).as("ss"))
      .withColumn("mean", col("s").cast("double") /
        col("n").cast("double") / 1e6)
      // sample variance in value² units from exact integers
      .withColumn("var", (col("n").cast(dec) * col("ss") -
        col("s") * col("s")).cast("double") /
        (col("n").cast("double") * (col("n") - lit(1)).cast("double")) /
        1e12)
      .select(concat(col("arm"), lit("_"), col("period")).as("cell"),
        col("n"), col("mean"), col("var"))
    val w = cells.groupBy()
      .pivot("cell", Seq("A_pre", "A_post", "B_pre", "B_post"))
      .agg(first("mean").as("m"), first("n").as("n"),
        first("var").as("v"))
    val did = (col("B_post_m") - col("B_pre_m")) -
      (col("A_post_m") - col("A_pre_m"))
    val se = sqrt(col("A_pre_v") / col("A_pre_n") +
      col("A_post_v") / col("A_post_n") +
      col("B_pre_v") / col("B_pre_n") +
      col("B_post_v") / col("B_post_n"))
    w.select(
      col("A_pre_n").cast("long").as("n_ctl_pre"),
      col("A_post_n").cast("long").as("n_ctl_post"),
      col("B_pre_n").cast("long").as("n_trt_pre"),
      col("B_post_n").cast("long").as("n_trt_post"),
      round(did, 6).as("did"),
      round(se, 6).as("se"),
      round(did / nullif(se, lit(0.0)), 4).as("t_stat"))
  }

  /** FLEISS' KAPPA multi-rater agreement (the m-rater generalization
    * of ml_kappa's two-rater Cohen — "do the three order-size rubrics
    * actually agree beyond chance": three fixed-threshold raters band
    * o_totalprice into S/M/L with slightly different cut points, the
    * disagreement lives exactly in the between-threshold price bands,
    * and κ says whether the rubric family is coherent enough to ship).
    * κ = (P̄ − P̄e)/(1 − P̄e) with P̄ from per-subject Σnᵢⱼ² and
    * P̄e = Σⱼ(Cⱼ/(N·m))².
    *
    * EXACT algebra: every count, Σnᵢⱼ², and ΣCⱼ² is an integer (Cⱼ² in
    * decimal(38,0) — category totals at 100 TB square past a long);
    * both engines form the two P̄ ratios from identical integers and
    * divide once at the close. One explode (m=3 bounded), one
    * (subject, cat) rollup, category/global frames are
    * category-bounded; unanimous corpora hit P̄e=1 and null out via
    * nullif rather than dividing by zero. */
  def fleissKappa(orders: DataFrame): DataFrame = {
    def cat(lo: Double, hi: Double) =
      when(col("o_totalprice") < lo, "S")
        .when(col("o_totalprice") < hi, "M").otherwise("L")
    val ratings = orders.select(col("o_orderkey"),
      explode(array(
        struct(lit(1).as("rater"), cat(50000, 150000).as("cat")),
        struct(lit(2).as("rater"), cat(60000, 140000).as("cat")),
        struct(lit(3).as("rater"), cat(55000, 145000).as("cat"))))
        .as("x"))
      .select(col("o_orderkey"), col("x.cat").as("cat"))
    val nij = ratings.groupBy("o_orderkey", "cat")
      .agg(count(lit(1)).as("nij"))
    val subj = nij.groupBy("o_orderkey")
      .agg(sum(col("nij") * col("nij")).as("ssq"))
      .agg(count(lit(1)).as("nsub"), sum("ssq").as("ssqsum"))
    val dec = "decimal(38,0)"
    val cats = nij.groupBy("cat").agg(sum("nij").as("cj"))
      .agg(sum(col("cj").cast(dec) * col("cj").cast(dec)).cast(dec)
        .as("cjsq"))
    val j = subj.crossJoin(broadcast(cats))
    val nsub = col("nsub").cast("double")
    val pbar = (col("ssqsum") - lit(3) * col("nsub")).cast("double") /
      (lit(6.0) * nsub)
    val pe = col("cjsq").cast("double") / (lit(9.0) * nsub * nsub)
    j.select(col("nsub").as("n_subjects"),
      round(pbar, 6).as("p_bar"), round(pe, 6).as("p_e"),
      round((pbar - pe) / nullif(lit(1.0) - pe, lit(0.0)), 6)
        .as("kappa"))
  }

  /** CRONBACH'S ALPHA internal-consistency reliability — "do the k
    * event-type daily series measure ONE underlying thing" (the
    * instrument-reliability twin of st_corr_matrix's pairwise view:
    * α rolls the whole covariance structure into the single number
    * survey/metric designers gate on, α = k/(k−1)·(1 − Σσᵢ²/σ_T²)).
    * Items = the k event types, subjects = days, listwise-complete
    * days only (a day missing any item drops — documented deletion
    * rule, same both engines).
    *
    * EXACT: daily means micro-quantize to longs; since every item has
    * the same subject count n, the 1/(n(n−1)) factors cancel and
    * α = k/(k−1)·(1 − A/B) with A = Σᵢ(n·Σxᵢ²−Sᵢ²), B = n·ΣT²−S_T² —
    * pure integers, widened to decimal(38,0)/HUGEINT (n·Σx² crosses a
    * long just past contract scale), one double division at the
    * close. Frames are calendar- and item-bounded after the one daily
    * partial-agg pass. */
  def cronbachAlpha(events: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = events.groupBy(
        expr("unix_date(cast(ts as date))").cast("long").as("d"),
        col("event_type"))
      .agg(Exact.avgValueMicros.as("v"))
    val kRow = broadcast(daily.agg(countDistinct("event_type").as("k")))
    val byDay = daily.groupBy("d")
      .agg(count(lit(1)).as("cnt"), sum("v").as("t"))
    val complete = byDay.crossJoin(kRow)
      .filter(col("cnt") === col("k")).select("d", "t", "k")
    val items = daily.join(complete.select("d"), "d")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("s"),
        sum(col("v").cast(dec) * col("v").cast(dec)).cast(dec).as("ss"))
      .agg(max("n").as("n"), count(lit(1)).as("k_items"),
        sum((col("n").cast(dec) * col("ss") -
          col("s") * col("s")).cast(dec)).cast(dec).as("a"))
    val tot = complete.agg(count(lit(1)).as("nt"),
      sum(col("t").cast(dec)).as("st"),
      sum(col("t").cast(dec) * col("t").cast(dec)).cast(dec).as("sst"))
    val j = items.crossJoin(broadcast(tot))
    val b = (col("nt").cast(dec) * col("sst") -
      col("st") * col("st")).cast("double")
    val kD = col("k_items").cast("double")
    j.select(col("k_items"), col("nt").as("n_days"),
      round(kD / (kD - 1.0) *
        (lit(1.0) - col("a").cast("double") / nullif(b, lit(0.0))), 6)
        .as("alpha"))
  }

  /** INTRACLASS CORRELATION ICC(2,1) + ICC(3,1) over the day × event-
    * type matrix (the continuous-agreement member that closes the
    * reliability family: [[fleissKappa]] scores CATEGORICAL raters,
    * [[cronbachAlpha]] scores the summed scale, ICC scores the raw
    * per-rater numbers — "can one item's daily reading stand in for
    * another's", absolute-agreement (2,1) vs consistency (3,1)):
    * two-way ANOVA decomposition, ICC(2,1) = (MSR−MSE)/(MSR+(k−1)MSE
    * + k/n·(MSC−MSE)), ICC(3,1) drops the rater-variance term.
    *
    * EXACT algebra: every sum of squares is scaled by N = n·k so it
    * stays an INTEGER in decimal(38,0)/HUGEINT — SST·N = N·Σx²−G²,
    * SSR·N = n·ΣTᵢ²−G², SSC·N = k·ΣCⱼ²−G² on micro-quantized daily
    * means (the ·N factor cancels in every MS ratio; the formula was
    * validated against the Shrout–Fleiss worked example: 0.2898 /
    * 0.7148). Listwise-complete days only ([[cronbachAlpha]]'s
    * deletion rule); subject/item rollups are calendar- and
    * item-bounded; constant matrices null via nullif. */
  def icc(events: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = events.groupBy(
        expr("unix_date(cast(ts as date))").cast("long").as("d"),
        col("event_type"))
      .agg(Exact.avgValueMicros.as("v"))
    val kRow = broadcast(daily.agg(countDistinct("event_type").as("k")))
    val complete = daily.groupBy("d").agg(count(lit(1)).as("cnt"))
      .crossJoin(kRow).filter(col("cnt") === col("k")).select("d")
    val m = daily.join(complete, "d")
    val dims = m.agg(countDistinct("d").as("n"),
      countDistinct("event_type").as("k"),
      sum(col("v").cast(dec)).cast(dec).as("g"),
      sum(col("v").cast(dec) * col("v").cast(dec)).cast(dec).as("ssq"))
    val rowsF = m.groupBy("d").agg(sum("v").as("t"))
      .agg(sum(col("t").cast(dec) * col("t").cast(dec)).cast(dec)
        .as("st2"))
    val colsF = m.groupBy("event_type").agg(sum("v").as("c"))
      .agg(sum(col("c").cast(dec) * col("c").cast(dec)).cast(dec)
        .as("sc2"))
    val x = dims.crossJoin(broadcast(rowsF)).crossJoin(broadcast(colsF))
    val bigN = (col("n").cast(dec) * col("k").cast(dec)).cast(dec)
    val g2 = (col("g") * col("g")).cast(dec)
    val w = x.select(col("n"), col("k"),
      (bigN * col("ssq") - g2).cast(dec).as("sstN"),
      (col("n").cast(dec) * col("st2") - g2).cast(dec).as("ssrN"),
      (col("k").cast(dec) * col("sc2") - g2).cast(dec).as("sscN"))
    val msr = col("ssrN").cast("double") /
      (col("n") - lit(1)).cast("double")
    val msc = col("sscN").cast("double") /
      (col("k") - lit(1)).cast("double")
    val mse = (col("sstN") - col("ssrN") - col("sscN")).cast("double") /
      ((col("n") - lit(1)) * (col("k") - lit(1))).cast("double")
    val kD = col("k").cast("double")
    w.select(col("n").as("n_days"), col("k").as("k_items"),
      round((msr - mse) / nullif(msr + (kD - 1.0) * mse +
        kD / col("n").cast("double") * (msc - mse), lit(0.0)), 6)
        .as("icc21"),
      round((msr - mse) / nullif(msr + (kD - 1.0) * mse, lit(0.0)), 6)
        .as("icc31"))
  }

  /** COCHRAN–MANTEL–HAENSZEL stratified 2×2 test + the MH common odds
    * ratio (the confounder-aware member of the experimentation family:
    * st_prop_test compares two arms POOLED — Simpson's paradox bait
    * when the mix differs by stratum; CMH tests the arm effect WITHIN
    * each event-type stratum and pools the evidence): χ²_CMH =
    * (Σ(aₖ−E[aₖ]))²/ΣVar(aₖ), OR_MH = Σ(aₖdₖ/nₖ)/Σ(bₖcₖ/nₖ). Arms are
    * the ONE [[md5Arm]] split; success = value ≥ `threshold`.
    *
    * ONE conditional-count pass to the stratum-bounded 2×2 frame;
    * per-stratum deviation/variance/OR terms are formed from exact
    * integer counts and 1e6-quantized BEFORE the cross-stratum sum
    * (order-free longs — the ml_calibration discipline), three
    * divisions at the close. Degenerate strata (n ≤ 1) are excluded
    * by the (n−1) variance guard; all-concordant corpora null OR_MH
    * via nullif. Uncorrected form (no continuity correction) —
    * documented contract, same on both engines. */
  def cmhTest(events: DataFrame, threshold: Double = 100.0): DataFrame = {
    val cell = events.select(col("event_type").as("stratum"),
        md5Arm(col("user_id")).as("arm"),
        (col("value") >= threshold).as("yes"))
      .groupBy("stratum")
      .agg(
        sum(when(col("arm") === "B" && col("yes"), 1L).otherwise(0L))
          .as("a"),
        sum(when(col("arm") === "B" && !col("yes"), 1L).otherwise(0L))
          .as("b"),
        sum(when(col("arm") === "A" && col("yes"), 1L).otherwise(0L))
          .as("c"),
        sum(when(col("arm") === "A" && !col("yes"), 1L).otherwise(0L))
          .as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
    val r1 = (col("a") + col("b")).cast("double")
    val r0 = (col("c") + col("d")).cast("double")
    val c1 = (col("a") + col("c")).cast("double")
    val c0 = (col("b") + col("d")).cast("double")
    val nD = col("n").cast("double")
    val q = cell.select(
      round((col("a").cast("double") - r1 * c1 / nD) * 1e6).cast("long")
        .as("dev6"),
      round(r1 * r0 * c1 * c0 / (nD * nD * (nD - 1.0)) * 1e6)
        .cast("long").as("v6"),
      round(col("a").cast("double") * col("d") / nD * 1e6).cast("long")
        .as("adn6"),
      round(col("b").cast("double") * col("c") / nD * 1e6).cast("long")
        .as("bcn6"))
    q.agg(count(lit(1)).as("n_strata"), sum("dev6").as("sd"),
        sum("v6").as("sv"), sum("adn6").as("sad"), sum("bcn6").as("sbc"))
      .select(col("n_strata"),
        round(col("sd").cast("double") * col("sd") / 1e6 /
          nullif(col("sv").cast("double"), lit(0.0)), 6).as("cmh"),
        round(col("sad").cast("double") /
          nullif(col("sbc").cast("double"), lit(0.0)), 6).as("or_mh"))
  }

  /** BRESLOW–DAY homogeneity-of-odds-ratios test across the same
    * event-type strata — [[cmhTest]]'s mandatory companion (CMH pools
    * the arm effect ASSUMING one common odds ratio; Breslow–Day tests
    * that assumption — a significant BD means the pooled OR_MH is
    * averaging qualitatively different effects and the CMH headline
    * should not be trusted): per stratum, the expected count ãₖ under
    * the common OR solves the quadratic
    * (OR−1)ã² − ((r1+c1)·OR + (n−r1−c1))·ã + OR·r1·c1 = 0 (root
    * (B−√(B²−4AC))/(2A) is the in-range root for OR on either side of
    * 1; OR=1 degenerates to r1c1/n), Var(ãₖ) is the harmonic sum of
    * the four fitted cells, X²_BD = Σ(aₖ−ãₖ)²/Var(ãₖ) on K−1 df.
    * Uncorrected form (no Tarone adjustment) — documented contract.
    *
    * Same one conditional-count pass to the stratum-bounded 2×2 frame
    * as [[cmhTest]] (and the IDENTICAL 1e6-quantized OR_MH, so the two
    * surfaces report one number, not two estimates); the common OR
    * rides back
    * as a 1-row broadcast, per-stratum contributions are 1e6-quantized
    * before the cross-stratum sum (order-free longs). Strata with a
    * zero margin (fitted cell would be 0) drop, standard practice. */
  def breslowDay(events: DataFrame, threshold: Double = 100.0)
      : DataFrame = {
    val cell = events.select(col("event_type").as("stratum"),
        md5Arm(col("user_id")).as("arm"),
        (col("value") >= threshold).as("yes"))
      .groupBy("stratum")
      .agg(
        sum(when(col("arm") === "B" && col("yes"), 1L).otherwise(0L))
          .as("a"),
        sum(when(col("arm") === "B" && !col("yes"), 1L).otherwise(0L))
          .as("b"),
        sum(when(col("arm") === "A" && col("yes"), 1L).otherwise(0L))
          .as("c"),
        sum(when(col("arm") === "A" && !col("yes"), 1L).otherwise(0L))
          .as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("r1", col("a") + col("b"))
      .withColumn("c1", col("a") + col("c"))
      .filter(col("r1") > 0 && col("c1") > 0 &&
        col("r1") < col("n") && col("c1") < col("n"))
    val nD = col("n").cast("double")
    val orMh = cell.select(
        round(col("a").cast("double") * col("d") / nD * 1e6).cast("long")
          .as("adn6"),
        round(col("b").cast("double") * col("c") / nD * 1e6).cast("long")
          .as("bcn6"))
      .agg((sum("adn6").cast("double") /
        nullif(sum("bcn6").cast("double"), lit(0.0))).as("or_mh"))
    val or = col("or_mh")
    val r1 = col("r1").cast("double")
    val c1 = col("c1").cast("double")
    val qA = or - 1.0
    val qB = (r1 + c1) * or + (nD - r1 - c1)
    val qC = or * r1 * c1
    val aFit = when(abs(qA) < 1e-12, r1 * c1 / nD)
      .otherwise((qB - sqrt(qB * qB - lit(4.0) * qA * qC)) /
        (lit(2.0) * qA))
    val withFit = cell.crossJoin(broadcast(orMh))
      .withColumn("af", aFit)
      .withColumn("vf", lit(1.0) / (lit(1.0) / col("af") +
        lit(1.0) / (r1 - col("af")) + lit(1.0) / (c1 - col("af")) +
        lit(1.0) / (nD - r1 - c1 + col("af"))))
    withFit.select(col("or_mh"),
        round((col("a") - col("af")) * (col("a") - col("af")) /
          col("vf") * 1e6).cast("long").as("q6"))
      .groupBy("or_mh")
      .agg(count(lit(1)).as("n_strata"),
        round(sum("q6").cast("double") / 1e6, 6).as("bd_chi2"))
      .select(col("n_strata"), (col("n_strata") - 1).as("df"),
        round(col("or_mh"), 6).as("or_mh"), col("bd_chi2"))
  }

  /** ITERATIVE PROPORTIONAL FITTING (raking) over the event-type ×
    * day-of-week cell grid — the two-margin balancing weight every
    * survey shop and every training-data mixture designer reaches for
    * (pipe_mixture balances ONE axis by resampling; IPF finds the
    * per-cell weights matching BOTH marginal targets simultaneously —
    * here uniform shares on each axis — without touching the joint
    * structure more than necessary): alternate row/column scalings
    * wᵢⱼ ← wᵢⱼ·τᵣ/Σⱼnw, classic Deming–Stephan, `rounds` full passes.
    *
    * Replayable float recurrence (the ts_ses_grid discipline): weights
    * live as NANO-unit longs and each scaling is the ONE formula
    * round(T·w9·1e9 / (k·Σnw9)) whose inputs are exact integers
    * (decimal sums cast to double deterministically) — so the DuckDB
    * twin unrolls the same six scalings and lands on identical longs.
    *
    * One task rakes the grid: the cell rollup keeps its parallel partial
    * aggregation and is coalesced to one partition, and one
    * `mapPartitions` runs [[rakeGrid]] over it. The grid is CELL-BOUNDED
    * — one row per event type and weekday, plus null-key cells, so at
    * most (k_r + 1) × 8 rows whatever the event count — and the step runs
    * once per query, so it is no per-row UDF on a hot path. The plan stays
    * lazy: no eager job, checkpoint or broadcast. The window form this
    * replaces (`tt`/`kr`/`kc` as whole-frame windows, one margin window
    * per scaling) gave the same rows from a chain of windows, sorts and
    * projections of about 30 generated classes for ~35 rows at sf0.01.
    * Spark's codegen cache holds 100 entries keyed per class loader, so
    * in a mix of loop queries those classes were evicted and compiled
    * again on every run: in perfbench's graph_loops (4 vCPU) its
    * one-task stage spent ~380 ms of CPU a warm pass, against ~17 ms
    * for this step. */
  def ipf(events: DataFrame, rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.types._
    val cells = events.select(col("event_type").as("r"),
        pmod(expr("unix_date(cast(ts as date))").cast("long"), lit(7L))
          .as("cgrp"))
      .groupBy("r", "cgrp").agg(count(lit(1)).as("n"))
      .coalesce(1)
    val out = StructType(Seq(StructField("event_type", StringType),
      StructField("dow", LongType), StructField("n", LongType, false),
      StructField("weight", DoubleType)))
    cells.mapPartitions { part =>
      val grid = part.map(c => (c.getString(0),
        if (c.isNullAt(1)) null else java.lang.Long.valueOf(c.getLong(1)),
        c.getLong(2))).toVector
      // floor convention (Exact.scala): w9/1000 is an exact double for
      // integer w9 < 2^53, so the 6dp half-case quantizes identically on
      // both engines — engine round() at 6dp of a 9dp-grid value does not
      rakeGrid(grid, rounds).iterator.map { case (r, g, n, w9) =>
        Row(r, g, n, math.floor(w9 / 1000.0 + 0.5).toLong / 1e6) }
    }(Encoders.row(out))
  }

  /** [[ipf]]'s `rounds` row/column scaling pairs over the cells
    * (r, cgrp, n), in the arithmetic of its DuckDB twin: `tt` counts
    * every cell and `kr`/`kc` the distinct non-null keys; a scaling's
    * margins are exact sums of n·w9, all taken before any of its weights
    * change; w9 ← round(double(tt·w9·1e9) / (double(k)·double(margin)))
    * with the correctly rounded integer-to-double conversions and
    * Spark's HALF_UP `round` of a double. A null-key cell counts in its
    * scaling's margin and then drops, as the twin's `JOIN … USING` drops
    * it. Returns (r, cgrp, n, w9) for every cell left. */
  private def rakeGrid(cells: Seq[(String, java.lang.Long, Long)],
                       rounds: Int)
      : Seq[(String, java.lang.Long, Long, Long)] = {
    type Cell = (String, java.lang.Long, Long, Long)
    val tt = BigInt(cells.map(_._3).sum)
    val kr = cells.flatMap(c => Option(c._1)).distinct.size.toDouble
    val kc = cells.flatMap(c => Option(c._2)).distinct.size.toDouble
    var w: Seq[Cell] = cells.map { case (r, g, n) => (r, g, n, 1000000000L) }
    def rescale(key: Cell => Any, k: Double): Unit = {
      val margin = w.groupMapReduce(key)(c => BigInt(c._3) * c._4)(_ + _)
      w = w.filter(key(_) != null).map { c =>
        val q = (tt * c._4 * 1000000000L).toDouble /
          (k * margin(key(c)).toDouble)
        c.copy(_4 = java.math.BigDecimal.valueOf(q)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue)
      }
    }
    for (_ <- 1 to rounds) { rescale(_._1, kr); rescale(_._2, kc) }
    w
  }

  /** Two-sample F TEST of variance ratio — the pre-t-test variance
    * check in its classic two-group form ([[leveneTest]]/
    * [[bartlettTest]] are the k-group robust/parametric siblings; the
    * plain F = s₁²/s₂² is what every "can I pool?" decision and every
    * variance-QC chart actually uses): F, both dfs, and both sample
    * variances, convention F ≥ 1 never imposed — the group order is
    * part of the contract (a/b = click/view), so the caller reads
    * direction too.
    *
    * Exactness: per-group variance numerators are the integer-cents
    * power sums (n·Σc² − (Σc)² exact in decimal(38,0)), so each s² is
    * ONE double division and F one more — aggregation-order free, the
    * same discipline as [[bartlettTest]]. One corpus pass to two rows. */
  def fTestVariance(events: DataFrame, typeA: String = "click",
                    typeB: String = "view"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = Exact.cents(col("value"))
    val g = events.filter(col("event_type").isin(typeA, typeB))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(c).cast(dec).as("s1"),
        sum(c.cast(dec) * c.cast(dec)).as("s2"))
      .withColumn("var_num",
        (col("n").cast(dec) * col("s2") - col("s1") * col("s1")))
      .withColumn("s2v", col("var_num").cast("double") / 1e4 /
        (col("n").cast("double") * (col("n") - lit(1))))
    val a = g.filter(col("event_type") === typeA)
      .select(col("n").as("n_a"), col("s2v").as("var_a"))
    val b = g.filter(col("event_type") === typeB)
      .select(col("n").as("n_b"), col("s2v").as("var_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        (col("n_a") - 1).as("df_a"), (col("n_b") - 1).as("df_b"),
        round(col("var_a"), 6).as("var_a"),
        round(col("var_b"), 6).as("var_b"),
        round(col("var_a") / col("var_b"), 6).as("f_stat"))
  }

  /** χ² GOODNESS-OF-FIT against the uniform distribution over the
    * observed categories — [[chiSquare]] answers "are these two
    * columns independent"; this answers "is ONE column's distribution
    * what I declared" (uniform here: the mix-shift alarm for an
    * event-type feed that should arrive balanced). With e = n/k the
    * statistic collapses to the EXACT rational (k·Σo² − n²)/n — all
    * integer arithmetic until one division, so no per-cell float sum
    * can reorder. One partial-agg pass to the k-row frame. */
  def chiSquareGof(events: DataFrame, c: String = "event_type")
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    events.groupBy(col(c).as("__g")).agg(count(lit(1)).as("o"))
      .agg(count(lit(1)).as("k"), sum("o").as("n"),
        sum(col("o").cast(dec) * col("o").cast(dec)).as("oo"))
      .select(col("k"), col("n"), (col("k") - 1).as("df"),
        round((col("k").cast(dec) * col("oo") -
          col("n").cast(dec) * col("n").cast(dec)).cast("double") /
          col("n").cast("double"), 6).as("chi2"))
  }

  /** BETA-BINOMIAL posterior summary per arm — the Bayesian reading of
    * a conversion table ([[wilsonCi]] gives the frequentist interval;
    * this gives the posterior a decision rule actually integrates
    * over): with the uniform Beta(1,1) prior and k successes in n
    * trials, the posterior is Beta(k+1, n−k+1) — mean (k+1)/(n+2),
    * MAP k/n, variance (k+1)(n−k+1)/((n+2)²(n+3)) — all EXACT
    * rationals of counts, plus the normal-approximation 95% credible
    * interval clamped to [0,1] (the regime where the approximation
    * holds is also the regime where anyone ships the decision).
    * Success = value > 95 (the [[wilsonCi]] convention — one
    * definition of "conversion" across both surfaces). One corpus
    * pass to the arm-bounded frame. */
  def betaBinomial(events: DataFrame, threshold: Double = 95.0)
      : DataFrame = {
    val g = events.groupBy(col("event_type").as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > threshold, 1L).otherwise(0L)).as("k"))
    val a = (col("k") + 1).cast("double")
    val b = (col("n") - col("k") + 1).cast("double")
    val mean = a / (col("n") + 2)
    val variance = a * b /
      ((col("n") + 2).cast("double") * (col("n") + 2) * (col("n") + 3))
    g.select(col("arm"), col("n"), col("k"),
      round(mean, 6).as("post_mean"),
      round(col("k").cast("double") / col("n"), 6).as("post_map"),
      round(variance, 6).as("post_var"),
      round(greatest(lit(0.0), mean - lit(1.96) * sqrt(variance)), 6)
        .as("ci_lo"),
      round(least(lit(1.0), mean + lit(1.96) * sqrt(variance)), 6)
        .as("ci_hi"))
  }

  /** EMPIRICAL COPULA grid of the daily (click, view) pair — the
    * dependence STRUCTURE the correlation family reduces to one number
    * (st_corr_cov/st_spearman say HOW MUCH the two series co-move;
    * the copula says WHERE — tail dependence, asymmetry, the
    * "correlated only in crashes" shape risk teams actually fear):
    * rank-transform each margin to pseudo-observations, bucket the
    * unit square into a k×k grid, report each cell's day count and
    * its LIFT over the independence density 1/k².
    *
    * Engine-exact: daily means are exact micro-longs, ranks are
    * row_number over the total order (value, day) — no midrank float,
    * ties broken identically on both engines — and cell assignment is
    * integer arithmetic ((r−1)·k div n). The day frame is
    * calendar-bounded (the kendallTau window contract). */
  def empiricalCopula(events: DataFrame, typeX: String = "click",
                      typeY: String = "view", k: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def daily(t: String, alias: String) =
      events.filter(col("event_type") === t)
        .groupBy(expr("unix_date(cast(ts as date))").cast("long").as("d"))
        .agg(Exact.avgValueMicros.as(alias))
    val xy = daily(typeX, "x").join(daily(typeY, "y"), "d")
    val ranked = xy
      .withColumn("rx", row_number().over(Window.orderBy("x", "d")))
      .withColumn("ry", row_number().over(Window.orderBy("y", "d")))
    val tot = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .select(expr(s"(rx - 1) * $k div n").as("qx"),
        expr(s"(ry - 1) * $k div n").as("qy"), col("n"))
      .groupBy("qx", "qy")
      .agg(count(lit(1)).as("n_days"), max("n").as("__n"))
      .select(col("qx"), col("qy"), col("n_days"),
        round(col("n_days") * lit(k * k) / col("__n").cast("double"), 6)
          .as("lift"))
  }

  /** CHATTERJEE's ξ (xi) correlation of the daily (click, view) pair —
    * the 2020 rank coefficient that detects ANY measurable dependence,
    * not just monotone ([[spearmanRho]]/kendall read ~0 on a perfect
    * V-shape; ξ → 1 whenever y is a function of x, noisy or not), and
    * it is deliberately ASYMMETRIC — ξ(y|x) ≠ ξ(x|y) — so it reports
    * "which variable determines which", both directions here:
    * ξ = 1 − 3·Σ|r_{i+1} − r_i| / (n² − 1) with the data sorted by
    * the conditioning variable and r the ranks of the other.
    *
    * Engine-exact end to end: daily means are exact micro-longs,
    * ranks are row_number over the (value, day) total order (the
    * no-ties form of the statistic, deterministic on both engines),
    * the |Δrank| sum is exact integer arithmetic, and the single
    * division happens once per direction. Day-frame windows
    * (calendar-bounded, the kendallTau contract). */
  def chatterjeeXi(events: DataFrame, typeX: String = "click",
                   typeY: String = "view"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def daily(t: String, alias: String) =
      events.filter(col("event_type") === t)
        .groupBy(expr("unix_date(cast(ts as date))").cast("long").as("d"))
        .agg(Exact.avgValueMicros.as(alias))
    val xy = daily(typeX, "x").join(daily(typeY, "y"), "d")
      .withColumn("rx", row_number().over(Window.orderBy("x", "d"))
        .cast("long"))
      .withColumn("ry", row_number().over(Window.orderBy("y", "d"))
        .cast("long"))
    val stepX = xy
      .withColumn("nxt", lead("ry", 1).over(Window.orderBy("rx")))
      .filter(col("nxt").isNotNull)
      .agg(sum(abs(col("nxt") - col("ry"))).as("sdx"))
    val stepY = xy
      .withColumn("nxt", lead("rx", 1).over(Window.orderBy("ry")))
      .filter(col("nxt").isNotNull)
      .agg(sum(abs(col("nxt") - col("rx"))).as("sdy"))
    val n = xy.agg(count(lit(1)).as("n"))
    stepX.crossJoin(broadcast(stepY)).crossJoin(broadcast(n))
      .select(col("n"),
        round(lit(1.0) - lit(3.0) * col("sdx") /
          (col("n").cast("double") * col("n") - 1.0), 6)
          .as("xi_y_given_x"),
        round(lit(1.0) - lit(3.0) * col("sdy") /
          (col("n").cast("double") * col("n") - 1.0), 6)
          .as("xi_x_given_y"))
  }

  /** MAXIMUM MEAN DISCREPANCY (RBF kernel, biased V-statistic)
    * between the daily click and view distributions — the kernel
    * two-sample test ([[ksTest]] compares ECDFs in 1-D; MMD is the
    * embedding-space form that generalizes to any dimension and is
    * the standard drift score for representation spaces):
    * MMD² = E k(x,x′) + E k(y,y′) − 2·E k(x,y) with
    * k(a,b) = exp(−(a−b)²/(2h²)) at the documented fixed bandwidth.
    *
    * Pair frames are day×day (calendar-bounded — the kendallTau
    * contract); each kernel term quantizes to integer micro-units
    * (floor convention) before its unordered sum, so the three pair
    * means are exact longs over deterministic doubles (the g-test/
    * ml_nb log discipline — a raw float Σ over 10⁴ exponentials
    * would flap the 6th decimal with partitioning). */
  def mmdTest(events: DataFrame, typeX: String = "click",
              typeY: String = "view", h: Double = 50.0): DataFrame = {
    def daily(t: String) =
      events.filter(col("event_type") === t)
        .groupBy(expr("unix_date(cast(ts as date))").cast("long").as("d"))
        .agg((Exact.avgValueMicros.cast("double") / 1e6).as("v"))
    val xs = daily(typeX).select(col("v").as("a"))
    val ys = daily(typeY).select(col("v").as("b"))
    def kern(l: Column, r: Column): Column =
      floor(exp((l - r) * (l - r) / lit(-2.0 * h * h)) * 1e6 + 0.5)
        .cast("long")
    def pairMean(l: DataFrame, r: DataFrame, lc: String,
                 rc: String): DataFrame =
      l.crossJoin(r).agg(sum(kern(col(lc), col(rc))).as("s"),
        count(lit(1)).as("c"))
    val kxx = pairMean(xs, xs.select(col("a").as("a2")), "a", "a2")
      .select((col("s").cast("double") / col("c") / 1e6).as("mxx"),
        col("c").as("cxx"))
    val kyy = pairMean(ys, ys.select(col("b").as("b2")), "b", "b2")
      .select((col("s").cast("double") / col("c") / 1e6).as("myy"))
    val kxy = pairMean(xs, ys, "a", "b")
      .select((col("s").cast("double") / col("c") / 1e6).as("mxy"))
    kxx.crossJoin(broadcast(kyy)).crossJoin(broadcast(kxy))
      .select(col("cxx").as("n_pairs_xx"),
        round(col("mxx") + col("myy") - lit(2.0) * col("mxy"), 6)
          .as("mmd2"))
  }

  /** Stripe count of the value-range stripe map ([[valueStripe]]). The
    * offset window of [[stripedPrefix]] sees at most this many rows. */
  private[operators] val Stripes = 256

  /** Value-range stripe of `v`: `stripes` equal-width bins over
    * [`lo`, `hi`], computed on doubles, every row in bin 0 when
    * hi = lo. Non-decreasing in `v`, so it is a valid stripe map for
    * [[stripedPrefix]] over ascending `v`; a null `v` lands in bin 0
    * (`greatest` skips the null), where it also sorts first. */
  private[operators] def valueStripe(v: Column, lo: Column, hi: Column,
                                     stripes: Int = Stripes): Column = {
    val (x, l, h) = (v.cast("double"), lo.cast("double"), hi.cast("double"))
    when(h === l, lit(0L)).otherwise(least(lit(stripes - 1L),
      greatest(lit(0L), floor((x - l) / (h - l) * stripes))))
  }

  /** STRIPED TWO-PASS PREFIX SUM — the running sum every rank and ECDF
    * operator here needs, without the single-task sort a plain
    * `Window.orderBy` brings. For each column `c` of `sums` (long or
    * decimal) it adds `below_<c>`: the total of `c` over the rows
    * strictly before this one in `order`, within each `keys` group
    * (null keys form their own group) — what
    * `sum(c).over(partitionBy(keys).orderBy(order)
    * .rowsBetween(unboundedPreceding, -1))` computes, 0 for the first
    * row. An inclusive running sum is `below_<c> + c`, exact in long
    * and decimal arithmetic.
    *
    * Pass 1 sums each (keys, stripe) and prefix-sums those totals over
    * a window of at most one row per stripe, broadcast back; pass 2
    * runs the within-stripe running sums in parallel across stripes.
    * CONTRACT: `stripe` must be non-decreasing in `order` (within a
    * key). Then concatenating stripe prefixes is the global prefix, and
    * ANY such map gives the same sums — the stripe count is an
    * execution detail, never part of the result. */
  private[operators] def stripedPrefix(df: DataFrame, stripe: Column,
                                       order: Seq[Column],
                                       sums: Seq[String],
                                       keys: Seq[String] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val striped = df.withColumn("__stripe", stripe.cast("int"))
    val on = keys :+ "__stripe"
    val byStripe = Window.orderBy("__stripe").partitionBy(keys.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = striped.groupBy(on.map(col): _*)
      .agg(sum(sums.head).as(s"__t_${sums.head}"),
        sums.tail.map(c => sum(c).as(s"__t_$c")): _*)
      .select(on.map(k => col(k).as(s"__on_$k")) ++ sums.map(c =>
        coalesce(sum(s"__t_$c").over(byStripe), lit(0L)).as(s"__o_$c")): _*)
    val inStripe = Window.partitionBy(on.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    striped
      .join(broadcast(offs), on.map(k => col(k) <=> col(s"__on_$k"))
        .reduce(_ && _))
      .select(df.columns.toSeq.map(c => striped(c)) ++ sums.map(c =>
        (col(s"__o_$c") + coalesce(sum(c).over(inStripe), lit(0L)))
          .as(s"below_$c")): _*)
  }

  /** Global 1-based row rank `r` over the (`v`, `tie`) total order, as
    * `row_number().over(Window.orderBy(v, tie))` would give it, through
    * [[stripedPrefix]] on value-range stripes of `v` (r = below + 1):
    * corpus-proportional rank frames never pass through one task.
    * Output: the input columns plus `r`. */
  private[operators] def stripedRank(pts: DataFrame, v: String,
                                     tie: String): DataFrame =
    stripedRankWith(pts, v, tie,
      pts.agg(min(col(v)).as("__lo"), max(col(v)).as("__hi")))

  /** [[stripedRank]] with a CALLER-built 1-row bounds frame carrying
    * `__lo`/`__hi` — callers that already aggregate the input (a count
    * for decile arithmetic, say) fold the bounds into that same pass
    * and save one scan; any extra columns on `bounds` ride along into
    * the output (the ml_lift/ml_qini r12-verdict item-5 shave). */
  private[operators] def stripedRankWith(pts: DataFrame, v: String,
                                         tie: String,
                                         bounds: DataFrame): DataFrame =
    stripedPrefix(pts.crossJoin(broadcast(bounds)).withColumn("__n", lit(1L)),
        valueStripe(col(v), col("__lo"), col("__hi")),
        Seq(col(v), col(tie)), Seq("__n"))
      .withColumn("r", col("below___n") + 1)
      .drop("__lo", "__hi", "__n", "below___n")

  /** PEAKS-OVER-THRESHOLD tail fit — EXTREME VALUE THEORY's working
    * tool ([[grubbs]] asks "is this one point an outlier"; EVT asks
    * the capacity question: how heavy is the tail ITSELF, and what
    * does the 10× rarer event look like): exceedances over the exact
    * p95 threshold fit a Generalized Pareto by PROBABILITY-WEIGHTED
    * MOMENTS (Hosking–Wallis — closed form, no iterative MLE to
    * replay): with b₀ = mean(y), b₁ = Σ((rᵢ−1)/(n−1))·yᵢ/n over
    * ascending ranks, shape ξ = 2 − b₀/(b₀−2b₁) and scale
    * σ = 2·b₀·b₁/(b₀−2b₁). ξ > 0 = heavy (power-law) tail; the number
    * capacity planning actually consumes.
    *
    * Exactness: values quantize to cents, the threshold is the exact
    * percentile of integers (identical interpolation formula both
    * engines), ranks are row_number over the (y, event_id) total
    * order, and the two weighted sums are single aggregates over
    * exact inputs. One corpus pass to the exceedance frame. */
  def potTailFit(events: DataFrame, eventType: String = "click",
                 q: Double = 0.95): DataFrame = {
    val pts = events.filter(col("event_type") === eventType)
      .select(Exact.cents(col("value")).as("c"), col("event_id"))
    val thr = pts.agg(expr(s"percentile(c, $q)").as("u"))
    // rank by cents (y = c − u is c shifted by a CONSTANT, so the
    // (c, event_id) order IS the (y, event_id) order) and keep every
    // sum EXACT integer — the fractional threshold u folds in once:
    // Σy = Σc − n·u, Σ(r−1)y = Σ(r−1)c − u·n(n−1)/2. The exceedance
    // slice is corpus-proportional (~(1−q)·n rows), so the rank rides
    // the striped pattern, not a single-task window.
    val exc = stripedRank(
      pts.crossJoin(broadcast(thr)).filter(col("c") > col("u")),
      "c", "event_id")
    val agg = exc.agg(count(lit(1)).as("n"), sum("c").as("sc"),
      sum((col("r") - 1) * col("c")).as("src_"), max("u").as("u"))
    val n = col("n").cast("double")
    val b0 = (col("sc") - n * col("u")) / n / 100.0
    val b1 = (col("src_") - col("u") * n * (n - 1.0) / 2.0) /
      (n - 1.0) / n / 100.0
    val denom = b0 - lit(2.0) * b1
    agg.select(round(col("u") / 100.0, 6).as("threshold"),
      col("n").as("n_exceed"),
      round(lit(2.0) - b0 / denom, 6).as("xi"),
      round(lit(2.0) * b0 * b1 / denom, 6).as("sigma"))
  }

  /** INTER-ARRIVAL EXPONENTIALITY test on the purchase stream — the
    * Poisson-process check behind every queueing/capacity model ("are
    * purchases memoryless, or do they cluster"): gaps between
    * consecutive purchases fit an exponential by MLE (λ = 1/mean) and
    * the fit is scored by the KS distance between the empirical CDF
    * and 1 − e^(−λt) — D near 0 = Poisson-like arrivals, large D =
    * bursts/regularity the rate model will get wrong.
    *
    * Exactness: gaps are exact integer seconds, the mean is an exact
    * rational folded into λ once, ranks are row_number over the
    * (gap, order) total order, and D takes both one-sided forms at
    * every sorted point (the st_ks discipline).
    *
    * SCALE SHAPE (r13 — the former DOCUMENTED-TRADE windows are now
    * code): the gap lag() partitions by CALENDAR DAY with a boundary
    * exchange — within-day lag over day partitions, plus the first
    * event of each day taking the previous active day's last arrival
    * from a day-count-bounded rollup (the pettitt/kendallTau class:
    * the only unpartitioned window left here orders DAYS, not events).
    * The KS rank rides [[stripedRank]] — corpus-proportional gaps
    * never pass through a single-task window. */
  def interArrivalTest(events: DataFrame, eventType: String = "purchase")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // gaps stay EXACT integer microseconds; λ folds the exact rational
    // n/Σgap into each CDF evaluation once (a float Σ of gaps would be
    // aggregation-order dependent)
    val arr = events.filter(col("event_type") === eventType)
      .select(unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("day", floor(col("us") / lit(86400000000L)))
    val wd = Window.partitionBy("day").orderBy("us", "event_id")
    // previous ACTIVE day's last arrival: day-count-bounded frame, so
    // the unpartitioned lag is CALENDAR-class (grows with the span,
    // not the corpus); prev us is a VALUE, so max(us) needs no tie
    // column — equal-us predecessors give the same gap
    val prevDayLast = arr.groupBy("day").agg(max("us").as("last_us"))
      .withColumn("prev_last", lag("last_us", 1).over(Window.orderBy("day")))
      .select("day", "prev_last")
    // materialize the gap frame ONCE (r15 claw-back of the r13
    // conversion's unpriced cost): the lag-window chain fed FOUR
    // downstream passes (the n/Σg aggregate, stripedRank's bounds agg,
    // its stripe-offset agg, and the final ranked join), each
    // recomputing both windows — measured 1.46 s isolated at sf0.1 vs
    // 0.30 s pre-conversion. One localCheckpoint + folding the stripe
    // bounds into the same aggregate (stripedRankWith) makes every
    // later pass a cached-RDD read.
    val gaps = arr
      .withColumn("prev_in_day", lag("us", 1).over(wd))
      .join(broadcast(prevDayLast), Seq("day"))
      .withColumn("prev", coalesce(col("prev_in_day"), col("prev_last")))
      .filter(col("prev").isNotNull)
      .select((col("us") - col("prev")).as("g"), col("event_id"))
      .localCheckpoint(true)
    val tot = gaps.agg(count(lit(1)).as("n"), sum("g").as("sg"),
      min("g").as("__lo"), max("g").as("__hi"))
    val ranked = stripedRankWith(gaps, "g", "event_id", tot)
      .withColumn("f", lit(1.0) -
        exp(col("g") * (lit(-1.0) * col("n") / col("sg"))))
    ranked.agg(max("n").as("n_gaps"),
      round(max(col("n")).cast("double") /
        (max(col("sg")).cast("double") / 1e6), 6).as("lambda"),
      round(greatest(
        max(col("r") / col("n").cast("double") - col("f")),
        max(col("f") - (col("r") - 1) / col("n").cast("double"))), 6)
        .as("ks_d"))
  }

  /** NEWEY–WEST (HAC) standard error for the daily OLS slope — the
    * honest uncertainty when residuals are AUTOCORRELATED
    * ([[olsRegression]]'s classical SE assumes iid errors;
    * st_durbin_watson DETECTS the violation, Newey–West REPAIRS the
    * inference — time-series regressions without it overstate
    * significance, the classic econometrics trap): Bartlett-kernel
    * weighted sum of the residual-moment autocovariances at lags
    * 0..L, var(β̂) = S/Sxx².
    *
    * Determinism: β̂, α̂ come from exact micro-unit moment sums; the
    * per-day scores vᵢ = (xᵢ−x̄)·eᵢ quantize to integer milli-units
    * (floor convention) BEFORE the lag products, so every γ_ℓ is an
    * exact long over the calendar-bounded lag joins and the one float
    * division happens at the close. */
  def neweyWest(events: DataFrame, typeX: String = "click",
                typeY: String = "view", maxLag: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import events.sparkSession.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def daily(t: String, alias: String) =
      events.filter(col("event_type") === t)
        .groupBy(expr("unix_date(cast(ts as date))").cast("long").as("d"))
        .agg((Exact.avgValueMicros.cast("double") / 1e6).as(alias))
    val xy = daily(typeX, "x").join(daily(typeY, "y"), "d")
    val m = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))).as("b"),
        ((col("sy") - (col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")) * col("sx")) /
          col("n")).as("a"),
        (col("sxx") - col("sx") * col("sx") / col("n")).as("sxxc"),
        (col("sx") / col("n")).as("xbar"))
    val scored = xy.crossJoin(broadcast(m))
      .withColumn("rn", row_number().over(Window.orderBy("d")).cast("long"))
      .select(col("rn"), col("n"), col("sxxc"),
        floor((col("x") - col("xbar")) *
          (col("y") - col("a") - col("b") * col("x")) * 1e3 + 0.5)
          .cast("long").as("vq"))
      .localCheckpoint(true)
    val gammas = (0 to maxLag).map { l =>
      val rhs = scored.select((col("rn") - l).as("rn"),
        col("vq").as("vq2"))
      scored.join(rhs, Seq("rn"))
        .agg(sum(col("vq").cast(dec) * col("vq2").cast(dec)).as("g"))
        .select(lit(l).as("l"), col("g"))
    }.reduce(_ unionByName _)
    val s = gammas
      .select(when(col("l") === 0, col("g").cast("double") / 1e6)
        .otherwise(lit(2.0) * (lit(1.0) -
          col("l") / (maxLag + 1.0)) * col("g").cast("double") / 1e6)
        .as("t"))
      .agg(sum("t").as("s_hac"))
    m.crossJoin(broadcast(s))
      .select(col("n"), round(col("b"), 6).as("slope"),
        round(sqrt(col("s_hac")) / col("sxxc"), 6).as("se_hac"))
  }

  /** LORENZ CURVE deciles behind [[giniIndex]]'s single number — the
    * concentration PROFILE ("the top decile of orders carries what
    * share of revenue?"): population sorted ascending by order value,
    * cut into exact integer deciles, cumulative value share per cut.
    * The curve is what pricing/capacity actually reads; Gini is its
    * area summary.
    *
    * Exactness: cents are exact longs, decile assignment is integer
    * rank arithmetic ((r−1)·10 div n — engine-identical on the
    * (value, key) total order), cumulative sums ride a 10-row window.
    * The corpus-proportional rank uses [[stripedRank]], never a
    * single-task global window; everything
    * after is decile-bounded. */
  def lorenzCurve(orders: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pts = orders.select(Exact.cents(col("o_totalprice")).as("c"),
      col("o_orderkey"))
    val n0 = pts.agg(count(lit(1)).as("n"), sum("c").cast(dec).as("tot"))
    val cells = stripedRank(pts, "c", "o_orderkey")
      .crossJoin(broadcast(n0))
      .select(expr(s"(r - 1) * $k div n").as("decile"), col("c"),
        col("tot"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"), sum("c").cast(dec).as("sc"),
        max("tot").as("tot"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .select(col("decile"), col("n_orders"),
        round(col("sc").cast("double") / col("tot").cast("double"), 6)
          .as("value_share"),
        round(sum(col("sc")).over(w).cast("double") /
          col("tot").cast("double"), 6).as("cum_value_share"))
      .orderBy("decile")
  }

  /** MOOD'S MEDIAN TEST (two-sample) — the bluntest, most
    * assumption-free location test in the family ([[mwuTest]] needs
    * comparable shapes, [[yuenTest]] trims, this one only asks "does
    * each group clear the POOLED median at the same rate"): grand
    * median of the combined exact-cents sample, a 2×2 of
    * above/not-above per group, Pearson χ² on it. Low power, immune to
    * outliers and shape — the robustness-first sanity check.
    *
    * Exactness: cents are exact longs; the pooled median is the exact
    * midpoint of two longs (a half-integer double both engines compute
    * identically); the 2×2 counts are integer comparisons against it;
    * the (ad−bc) cross-difference stays in decimal(38,0) and χ² is
    * ONE double expression at the close. One corpus pass + a 2-row
    * rollup. */
  def medianTest(events: DataFrame, typeA: String = "click",
                 typeB: String = "view"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pts = events.filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type").as("g"), Exact.cents(col("value")).as("c"))
    val med = pts.agg(expr("percentile(c, 0.5)").as("m"))
    val cts = pts.crossJoin(broadcast(med))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c") > col("m"), 1L).otherwise(0L)).as("above"),
        max("m").as("m"))
    val a = cts.filter(col("g") === typeA)
      .select(col("n").as("na"), col("above").as("aa"), col("m"))
    val b = cts.filter(col("g") === typeB)
      .select(col("n").as("nb"), col("above").as("ab"))
    val diff = (col("aa").cast(dec) * (col("nb") - col("ab")).cast(dec) -
      col("ab").cast(dec) * (col("na") - col("aa")).cast(dec))
      .cast("double")
    val denom = (col("na").cast(dec) * col("nb").cast(dec) *
      (col("aa") + col("ab")).cast(dec) *
      (col("na") + col("nb") - col("aa") - col("ab")).cast(dec))
      .cast("double")
    a.crossJoin(broadcast(b))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("aa").as("above_a"), col("ab").as("above_b"),
        (col("m") / 100.0).as("grand_median"),
        round((col("na") + col("nb")).cast("double") * diff * diff /
          nullif(denom, lit(0.0)), 6).as("chi2"))
  }

  /** BOWLEY (quartile) SKEWNESS per event type — the robust skewness
    * next to [[skewKurt]]'s moment version (one whale order drags the
    * third moment anywhere; the quartile form B = (q₃+q₁−2q₂)/(q₃−q₁)
    * ∈ [−1,1] only moves if the BULK is asymmetric): exact-cents
    * quartiles (each an exact dyadic midpoint of two longs — both
    * engines interpolate at d ∈ {.25,.5,.75}, so the doubles are
    * bit-equal), one grouped pass, one division at the close. */
  def quartileSkew(events: DataFrame): DataFrame =
    events.select(col("event_type"), Exact.cents(col("value")).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("percentile(c, 0.25)").as("q1c"),
        expr("percentile(c, 0.5)").as("q2c"),
        expr("percentile(c, 0.75)").as("q3c"))
      .select(col("event_type"), col("n"),
        (col("q1c") / 100.0).as("q1"),
        (col("q2c") / 100.0).as("q2"),
        (col("q3c") / 100.0).as("q3"),
        round((col("q3c") + col("q1c") - col("q2c") * 2.0) /
          nullif(col("q3c") - col("q1c"), lit(0.0)), 6).as("bowley"))

  /** RUNS TEST FOR RANDOMNESS on successive differences (up/down
    * runs) — [[runsTest]] asks "random around the MEDIAN"; this asks
    * "random in its MOVES" (a slowly oscillating series passes the
    * median test and fails here — the trend/oscillation detector for
    * residual streams): hourly exact-micro means, signs of nonzero
    * consecutive differences (ties dropped — the standard convention),
    * R = number of maximal same-sign runs, z = (R − (2n−1)/3) /
    * √((16n−29)/90) with n = the OBSERVATION count after tie-dropping
    * (= moves + 1 — the textbook convention; r11 used the move count
    * for n, which understated E[R] by 2/3 and biased z upward).
    *
    * The hourly frame is calendar-bounded, so its two ordered windows
    * are the documented single-partition trade every ts_* surface
    * shares; the corpus pass is one partial-agg rollup. */
  def runsUpDown(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val w = Window.orderBy("hr")
    val moves = hourly.withColumn("prev", lag("v", 1).over(w))
      .filter(col("prev").isNotNull && col("v") =!= col("prev"))
      .select(col("hr"),
        when(col("v") > col("prev"), 1L).otherwise(-1L).as("sgn"))
    val agg = moves.withColumn("psgn", lag("sgn", 1).over(w))
      .agg(count(lit(1)).as("n_moves"),
        sum(when(col("psgn").isNull || col("sgn") =!= col("psgn"), 1L)
          .otherwise(0L)).as("n_runs"))
    // n = observations entering the runs count = moves + 1 (a run
    // sequence over m sign-moves spans m+1 retained points)
    val n = (col("n_moves") + lit(1L)).cast("double")
    agg.select(col("n_moves"), col("n_runs"),
      round(when(col("n_moves") >= 2,
        (col("n_runs").cast("double") - (n * 2.0 - 1.0) / 3.0) /
          sqrt((n * 16.0 - 29.0) / 90.0)), 6).as("z"))
  }

  /** LOG LOSS (cross-entropy) of a probabilistic classifier score —
    * the proper scoring rule next to [[brierDecomposition]] (Brier is
    * quadratic and bounded; log loss punishes CONFIDENT wrong
    * predictions without bound, which is what an LLM-data quality
    * filter actually optimizes): −mean(y·ln p + (1−y)·ln(1−p)), plus
    * the base rate the loss must be read against.
    *
    * Determinism: each row's log term quantizes to integer MICRO-nats
    * before the sum (the tx_*_ce discipline — the unordered float sum
    * never reaches the boundary), one partial-agg pass, 1-row out. */
  def logLoss(df: DataFrame, score: Column, label: Column): DataFrame = {
    val q = df.select(score.as("p"), label.cast("long").as("y"))
      .select(col("y"),
        round(log(when(col("y") === 1, col("p"))
          .otherwise(lit(1.0) - col("p"))) * 1e6).cast("long").as("t"))
    q.agg(count(lit(1)).as("n"), sum("y").as("npos"), sum("t").as("st"))
      .select(col("n"),
        round(-col("st").cast("double") / 1e6 / col("n"), 6)
          .as("log_loss"),
        round(col("npos").cast("double") / col("n"), 6).as("base_rate"))
  }

  /** ADAPTIVE (equal-mass) calibration table — [[calibrationReport]]
    * with QUANTILE bins instead of fixed-width ones (fixed bins go
    * empty/starved when the score distribution is peaked — the
    * standard ECE critique; equal-mass bins keep every bin's estimate
    * at n/bins samples): rank by (quantized score, id) via
    * [[stripedRank]] (distributed — never a single-task ntile), bin =
    * (r−1)·bins div n, then the same exact-integer per-bin rollup and
    * nano-quantized ECE fold as the fixed-bin report (floor convention
    * at the close). */
  def calibrationAdaptive(df: DataFrame, score: Column, label: Column,
                          id: Column, bins: Int = 10): DataFrame = {
    val q = df.select(score.as("score"), label.cast("int").as("y"),
        id.as("__id"))
      .select(round(col("score") * 1000000).cast("long").as("sq"),
        col("y"), col("__id"))
    val tot = q.agg(count(lit(1)).as("nt"))
    val b = stripedRank(q, "sq", "__id")
      .crossJoin(broadcast(tot))
      .select(expr(s"(r - 1) * $bins div nt").as("bin"), col("sq"),
        col("y"), col("nt"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").cast("long").as("n_pos"),
        sum("sq").as("ssum"), max("nt").as("nt"))
    val bb = b.withColumn("eq",
      round(abs(col("n_pos").cast("double") / col("n") -
        col("ssum").cast("double") / (col("n") * 1000000.0)) *
        col("n") * 1000000000.0 / col("nt")).cast("long"))
    bb.crossJoin(broadcast(bb.agg(sum("eq").as("esum"))))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("ssum").cast("double") / (col("n") * 1000000.0), 6)
          .as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"),
        (floor(col("esum").cast("double") / 1000.0 + 0.5) / 1e6)
          .as("ece_q"))
  }

  def hodgesLehmann(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"),
        expr("unix_date(cast(ts as date))").cast("long").as("d"))
      .agg(Exact.avgValueMicros.as("v"))
    val b = daily.select(col("event_type").as("et2"), col("d").as("d2"),
      col("v").as("v2"))
    daily.join(b, col("event_type") === col("et2") && col("d") <= col("d2"))
      .groupBy("event_type")
      .agg(sum(when(col("d") === col("d2"), 1L).otherwise(0L))
          .as("n_days"),
        count(lit(1)).as("n_pairs"),
        expr("percentile(v + v2, 0.5)").as("__med"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        round(col("__med") / 2e6, 6).as("hl"))
  }
}
