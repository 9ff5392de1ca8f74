package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series resampling with gap fill — the weather-history shape of
  * the reference (hourly sensor series with missing slots).
  *
  * Two phases, both shuffle-minimal:
  *  1. downsample: truncate to the slot and aggregate (one shuffle on
  *     (key, slot), map-side partial aggs);
  *  2. gap fill: per key, generate the full slot range (sequence +
  *     explode — no driver loop), left-join observed slots, and
  *     forward-fill with last(ignoreNulls) over the slot order (reuses
  *     the same (key) partitioning).
  */
object Resample {

  /** Epoch-hour key of `ts`: whole hours since 1970-01-01 UTC, the hour
    * bucket of every hourly series. */
  private[operators] val hourKey: Column =
    expr("unix_seconds(date_trunc('hour', ts)) div 3600")

  /** Hourly series of the events of `types`: one row per [[hourKey]]
    * `hr` carrying `aggs`. One map-side-combined shuffle on the hour. */
  private[operators] def hourly(events: DataFrame, types: String*)(
      aggs: Column*): DataFrame =
    events.filter(col("event_type").isin(types: _*))
      .groupBy(hourKey.as("hr"))
      .agg(aggs.head, aggs.tail: _*)

  /** Hourly mean value `v` of one event type (micro-exact
    * [[Exact.avgValueMicros]], in value units). */
  private[operators] def hourlyMeans(events: DataFrame,
                                     eventType: String): DataFrame =
    hourly(events, eventType)(
      (Exact.avgValueMicros.cast("double") / lit(1e6)).as("v"))

  /** Paired hourly frame of two or three event types: per-hour means
    * `x`, `y` (and `z`) of `types` in order, aligned on the hour, hours
    * with any side missing dropped. Shared by the agreement and
    * correlation family ([[Stats.linCcc]], [[Stats.kendallTau]],
    * [[Stats.partialCorr]], [[cointegration]], ...). */
  private[operators] def alignedHourly(events: DataFrame,
                                       types: String*): DataFrame = {
    val names = Seq("x", "y", "z").take(types.size)
    val means = types.zip(names).map { case (t, n) =>
      (Exact.avgMicrosExpr(s"case when event_type = '$t' then value end")
        .cast("double") / lit(1e6)).as(n)
    }
    hourly(events, types: _*)(means: _*)
      .filter(names.map(n => col(n).isNotNull).reduce(_ && _))
  }

  /** Downsample `events` to fixed slots of `slotUs` micros per user:
    * slot_us, n, mean value (exact fixed-point, engine-stable). */
  def downsample(events: DataFrame, slotUs: Long): DataFrame =
    events
      .withColumn("slot_us",
        (unix_micros(col("ts")) / slotUs).cast("long") * slotUs)
      .groupBy("user_id", "slot_us")
      .agg(count(lit(1)).as("n"),
        expr("sum(cast(round(value * 100) as bigint)) * 100 div count(*)")
          .as("avg_value_e4"))

  /** Dense series per user with LINEAR interpolation: gaps get
    * prev + (next-prev)·(t-t_prev)/(t_next-t_prev) instead of a carried
    * forward-fill. Kept in e4 fixed-point with integer `div` (truncation
    * toward zero — engine-stable, unlike double rounding at .5
    * boundaries). The endpoints of every user's dense range are observed
    * slots, so each gap always has both neighbors. Same shuffle shape as
    * the forward-fill variant: one (user_id) exchange feeds both window
    * frames (identical partitioning+ordering, frames differ). */
  def resampleWithInterpolation(events: DataFrame, slotUs: Long): DataFrame = {
    val sampled = downsample(events, slotUs)
    val bounds = sampled.groupBy("user_id")
      .agg(min("slot_us").as("lo"), max("slot_us").as("hi"))
    val dense = bounds.select(col("user_id"),
      explode(sequence(col("lo"), col("hi"), lit(slotUs))).as("slot_us"))
    val order = Window.partitionBy("user_id").orderBy("slot_us")
    val wPrev = order.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = order.rowsBetween(0, Window.unboundedFollowing)
    val obsSlot = when(col("n").isNotNull, col("slot_us"))
    dense
      .join(sampled, Seq("user_id", "slot_us"), "left")
      .withColumn("filled", col("n").isNull)
      .withColumn("__pv", last(col("avg_value_e4"), ignoreNulls = true).over(wPrev))
      .withColumn("__ps", last(obsSlot, ignoreNulls = true).over(wPrev))
      .withColumn("__nv", first(col("avg_value_e4"), ignoreNulls = true).over(wNext))
      .withColumn("__ns", first(obsSlot, ignoreNulls = true).over(wNext))
      .withColumn("value_e4",
        when(!col("filled"), col("avg_value_e4")).otherwise(expr(
          """(__pv * (__ns - slot_us) + __nv * (slot_us - __ps))
             div (__ns - __ps)""")))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .select("user_id", "slot_us", "n", "value_e4", "filled")
  }

  /** Exponentially-weighted moving average per user — a linear
    * recurrence (y_i = α·x_i + (1−α)·y_{i−1}) that window functions
    * cannot express without numerically-unstable pow() rewrites. The
    * Spark-idiomatic scale shape is `groupByKey.flatMapSortedGroups`:
    * one shuffle on the key, each group streamed through a SORTED
    * iterator (spill-safe secondary sort — the group is never
    * materialized in memory), constant state per key. */
  def ewma(events: DataFrame, alpha: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"ts_us", $"value") { (k, it) =>
        var y = Double.NaN
        it.map { case (_, ts, v) =>
          y = if (y.isNaN) v else alpha * v + (1 - alpha) * y
          (k, ts, math.rint(y * 1e6) / 1e6)
        }
      }
      .toDF("user_id", "ts_us", "ewma")
  }

  /** Holt's linear (double-exponential) smoothing per key — level +
    * trend recurrences windows can't express, streamed through the same
    * spill-safe sorted-group iterator as [[ewma]] (constant state per
    * key: two doubles). `forecast_1` is the one-step-ahead prediction
    * l + b. β = 0 degenerates to ewma exactly (spec-locked). */
  def holt(events: DataFrame, alpha: Double, beta: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"ts_us", $"value") { (k, it) =>
        var l = Double.NaN
        var b = 0.0
        it.map { case (_, ts, v) =>
          if (l.isNaN) l = v
          else {
            val lPrev = l
            l = alpha * v + (1 - alpha) * (l + b)
            b = beta * (l - lPrev) + (1 - beta) * b
          }
          (k, ts, math.rint(l * 1e6) / 1e6, math.rint(b * 1e6) / 1e6,
            math.rint((l + b) * 1e6) / 1e6)
        }
      }
      .toDF("user_id", "ts_us", "level", "trend", "forecast_1")
  }

  /** Holt-Winters ADDITIVE triple exponential smoothing per key —
    * level + trend + a `period`-slot seasonal profile (seasonal index =
    * observation position mod period), completing the ewma → holt →
    * holt-winters recurrence family on the same spill-safe sorted-group
    * iterator (state per key: two doubles + one period-length array).
    *
    * Seasonal terms initialize at 0, so the recurrence degenerates to
    * EXACTLY [[holt]] when γ=0 (spec-locked) and learns the profile
    * from the first cycles otherwise (spec: planted periodic series →
    * last-cycle forecast error collapses vs the first cycle).
    * forecast_1 projects level + trend + the NEXT position's seasonal. */
  def holtWinters(events: DataFrame, alpha: Double, beta: Double,
                  gamma: Double, period: Int): DataFrame = {
    require(period >= 1, "need a positive seasonal period")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"ts_us", $"value") { (k, it) =>
        var l = Double.NaN
        var b = 0.0
        val s = Array.fill(period)(0.0)
        var i = 0
        it.map { case (_, ts, v) =>
          val si = i % period
          if (l.isNaN) l = v
          else {
            val lPrev = l
            l = alpha * (v - s(si)) + (1 - alpha) * (l + b)
            b = beta * (l - lPrev) + (1 - beta) * b
          }
          s(si) = gamma * (v - l) + (1 - gamma) * s(si)
          i += 1
          val sNext = s(i % period)
          (k, ts, math.rint(l * 1e6) / 1e6, math.rint(b * 1e6) / 1e6,
            math.rint(s(si) * 1e6) / 1e6,
            math.rint((l + b + sNext) * 1e6) / 1e6)
        }
      }
      .toDF("user_id", "ts_us", "level", "trend", "seasonal", "forecast_1")
  }

  /** LOCAL-LEVEL KALMAN filter per key — the optimal-weighting upgrade
    * of [[ewma]]: instead of a fixed α, the gain K_t = P/(P+R) adapts
    * from the filter's own uncertainty P (process noise q, observation
    * noise r), converging to the steady-state α* the noise ratio
    * implies — early observations are trusted more while P is large,
    * exactly what a fixed-α EWMA gets wrong after gaps/starts.
    *
    * Same spill-safe `flatMapSortedGroups` recurrence shape as
    * [[ewma]] (constant state per key: level + variance, two doubles);
    * the oracle replays the identical double recurrence in a DuckDB
    * RECURSIVE CTE carrying both state floats, with rint half-even
    * ties replicated literally (the ts_ewma discipline). */
  def kalmanLevel(events: DataFrame, q: Double, r: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"ts_us", $"value") { (k, it) =>
        var l = Double.NaN
        var p = 0.0
        it.map { case (_, ts, v) =>
          var g = 0.0
          if (l.isNaN) { l = v; p = r; g = 1.0 }
          else {
            val pp = p + q
            g = pp / (pp + r)
            l = l + g * (v - l)
            p = (1 - g) * pp
          }
          (k, ts, math.rint(l * 1e6) / 1e6, math.rint(g * 1e6) / 1e6)
        }
      }
      .toDF("user_id", "ts_us", "level", "gain")
  }

  /** SES α GRID-SEARCH over the hourly series — the "measure, don't
    * guess" companion to [[ewma]]'s fixed α: run all nine α ∈
    * {0.1..0.9} recurrences in ONE pass over the series, score each by
    * one-step-ahead SSE, flag the argmin — the smoothing constant an
    * operations team should actually deploy, chosen by forecast error
    * instead of folklore.
    *
    * The single sorted pass carries 9 levels + 9 SSE accumulators
    * (constant state); per-step squared errors quantize to integer
    * units before accumulating, so every SSE is an exact long and the
    * (sse, α) argmin is a total order. The series is the CALENDAR-
    * bounded hourly frame (the DTW/pacf scalar class — one group, not
    * data-sized); the oracle replays the identical 9 float recurrences
    * in one RECURSIVE CTE carrying all 18 state columns. */
  def sesGrid(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val alphas = (1 to 9).map(_ / 10.0)
    val rows = hourlyMeans(events, eventType)
      .select(col("hr"), col("v")).as[(Long, Double)]
      .groupByKey(_ => 0)
      .flatMapSortedGroups($"hr") { (_, it) =>
        val l = Array.fill(9)(Double.NaN)
        val sse = Array.fill(9)(0L)
        var n = 0L
        it.foreach { case (_, v) =>
          var i = 0
          while (i < 9) {
            if (l(i).isNaN) l(i) = v
            else {
              val err = v - l(i)
              // half-up on a non-negative value == SQL round()
              sse(i) += math.floor(err * err * 1e4 + 0.5).toLong
              l(i) = alphas(i) * v + (1 - alphas(i)) * l(i)
            }
            i += 1
          }
          n += 1
        }
        alphas.indices.map(i => (alphas(i), n, sse(i)))
      }
      .toDF("alpha", "n_hours", "sse_u")
    val best = rows.agg(min(struct(col("sse_u"), col("alpha"))).as("b"))
      .select(col("b.alpha").as("ba"))
    rows.crossJoin(broadcast(best))
      .select(col("alpha"), col("n_hours"),
        round(col("sse_u") / lit(1e4), 4).as("sse"),
        (col("alpha") === col("ba")).as("is_best"))
  }

  /** GARCH(1,1) conditional-variance filter per key — the VOLATILITY
    * recurrence next to [[kalmanLevel]]'s level one: hₜ = ω + α·ε²ₜ₋₁
    * + β·hₜ₋₁ with εₜ the first difference, so variance spikes after a
    * shock and decays at rate β — the "is this series in a turbulent
    * regime RIGHT NOW" signal a global variance can't give. h seeds at
    * the unconditional ω/(1−α−β).
    *
    * Same spill-safe `flatMapSortedGroups` shape (state: previous
    * value, previous innovation, h — three doubles); oracle = DuckDB
    * RECURSIVE CTE carrying all three state floats through the
    * identical double ops (rint half-even replicated). */
  def garchVariance(events: DataFrame, omega: Double, alpha: Double,
                    beta: Double): DataFrame = {
    require(alpha + beta < 1, "need a stationary GARCH (alpha+beta < 1)")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"ts_us", $"value") { (k, it) =>
        var vPrev = Double.NaN
        var eps = 0.0
        var h = 0.0
        it.map { case (_, ts, v) =>
          if (vPrev.isNaN) h = omega / (1 - alpha - beta)
          else {
            h = omega + alpha * eps * eps + beta * h
            eps = v - vPrev
          }
          vPrev = v
          (k, ts, math.rint(h * 1e6) / 1e6, math.rint(eps * 1e6) / 1e6)
        }
      }
      .toDF("user_id", "ts_us", "cond_var", "innovation")
  }

  /** Dense series per user: every slot between the user's first and last
    * observation, observed slots carrying their aggregate, gaps
    * forward-filled from the previous observed slot. `filled` marks
    * synthesized rows. */
  def resampleWithGapFill(events: DataFrame, slotUs: Long): DataFrame = {
    val sampled = downsample(events, slotUs)
    val bounds = sampled.groupBy("user_id")
      .agg(min("slot_us").as("lo"), max("slot_us").as("hi"))
    val dense = bounds.select(col("user_id"),
      explode(sequence(col("lo"), col("hi"), lit(slotUs))).as("slot_us"))
    val w = Window.partitionBy("user_id").orderBy("slot_us")
      .rowsBetween(Window.unboundedPreceding, 0)
    dense
      .join(sampled, Seq("user_id", "slot_us"), "left")
      .withColumn("filled", col("n").isNull)
      .withColumn("avg_value_e4",
        last(col("avg_value_e4"), ignoreNulls = true).over(w))
      .withColumn("n", coalesce(col("n"), lit(0L)))
  }

  /** Rolling z-score anomaly detection per user: each event scores
    * against the mean/stddev of its previous `lookback` values (frame
    * ends at -1 — the current value must not contaminate its own
    * baseline), flagged when |value−μ| > `sigmas`·σ with at least
    * `minN` prior observations (cold keys can't alarm off two points).
    *
    * Scale shape: ONE exchange on user_id feeds all three frames (same
    * partitioning+ordering — Catalyst plans a single Window operator);
    * output is the flagged rows only, so the sink sees anomalies, not
    * the stream. The streaming twin of this shape is a
    * flatMapGroupsWithState ring buffer; batch-over-lake is the form
    * the reference's anomaly_detector.py runs. */
  def tsAnomaly(events: DataFrame, lookback: Int = 20,
                sigmas: Double = 2.0, minN: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-lookback, -1)
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("__mu", avg(col("value")).over(w))
      .withColumn("__sd", stddev_samp(col("value")).over(w))
      .withColumn("__n", count(col("value")).over(w))
      .filter(col("__n") >= minN && col("__sd") > 0 &&
        abs(col("value") - col("__mu")) > lit(sigmas) * col("__sd"))
      .select(col("user_id"), col("event_id"),
        round((col("value") - col("__mu")) / col("__sd"), 4).as("z"))
  }

  /** Additive seasonal decomposition by hour-of-day: value =
    * type mean + seasonal(hour-of-day) + residual — the de-seasonalizing
    * step before anomaly detection on daily-cyclic metrics. Emits every
    * event with its three components.
    *
    * Scale shape: ONE partial-agg pass collapses events to the
    * (type × 24)-row moment frame; the type mean derives from THAT frame
    * (sum-of-sums — exact, not an avg of avgs), and both components ride
    * back onto the scan as a broadcast join on (type, hod). The events
    * payload itself never shuffles. */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    val wType = Window.partitionBy("event_type")
    val cells = events
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(sum("value").as("__s"), count("value").as("__n"))
      .withColumn("__tmean", sum("__s").over(wType) / sum("__n").over(wType))
      .select(col("event_type"), col("hod"),
        round(col("__tmean"), 6).as("type_mean"),
        round(col("__s") / col("__n") - col("__tmean"), 6).as("seasonal"))
    events.as("e")
      .join(broadcast(cells.as("c")),
        col("e.event_type") === col("c.event_type") &&
          hour(col("e.ts")) === col("c.hod"))
      .select(col("e.event_id"), col("e.event_type"), col("c.hod"),
        col("c.type_mean"), col("c.seasonal"),
        round(col("e.value") - col("c.type_mean") - col("c.seasonal"), 6)
          .as("residual"))
  }

  /** SEASONAL STRENGTH per event type — the forecastability companion
    * of [[seasonalDecompose]] (and the time-domain sibling of
    * [[spectralEntropy]]): F_s = max(0, 1 − Var(residual)/
    * Var(value − type_mean)) ∈ [0,1] — the share of the detrended
    * variance the hour-of-day profile explains (Hyndman's STL strength
    * formula on this decomposition). Rides the decomposition's own
    * output — seasonal+residual IS value−type_mean — so one rollup per
    * type, no second pass over events. */
  def seasonalStrength(events: DataFrame): DataFrame =
    seasonalDecompose(events)
      .withColumn("detr", col("seasonal") + col("residual"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), var_pop(col("residual")).as("vr"),
        var_pop(col("detr")).as("vd"))
      .select(col("event_type"), col("n"),
        round(greatest(lit(0.0),
          lit(1.0) - col("vr") / nullif(col("vd"), lit(0.0))), 6)
          .as("seasonal_strength"))

  /** Hour-of-day × day-of-week seasonality profile — the traffic heat
    * map behind capacity planning and anomaly BASELINES (pairs with
    * [[seasonalDecompose]], which models hour-of-day only: weekly
    * pattern changes show up here first). ONE partial-agg pass to a
    * ≤ 7×24-row frame at any corpus scale; the overall share rides a
    * 1-row broadcast. `dow` is Spark's 1=Sunday convention (the oracle
    * maps its 0-based builtin to match). */
  def hourDowProfile(events: DataFrame): DataFrame = {
    val cells = events.groupBy(
        dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n"), (Exact.avgValueMicros.cast("double") / lit(1e6)).as("value_mean"))
    cells.crossJoin(broadcast(cells.agg(sum("n").as("__t"))))
      .select(col("dow"), col("hod"), col("n"), col("value_mean"),
        round(col("n") / col("__t"), 6).as("share"))
  }

  /** Inter-arrival (gap) profiling per user — the arrival-process
    * health check (session tuning, bot detection): consecutive-event
    * gaps in integer epoch seconds (engine-stable), then count / mean /
    * max / exact p95 per user. One exchange on user_id feeds both the
    * lag window and the aggregation; percentile_approx is the 100 TB
    * drop-in for the exact p95. */
  def interArrivalStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w)))
      .filter(col("gap_s").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        round(avg("gap_s"), 4).as("mean_gap_s"),
        max("gap_s").as("max_gap_s"),
        round(expr("percentile(gap_s, 0.95)"), 4).as("p95_gap_s"))
  }

  /** CUSUM changepoint detection per event-type series: the hour
    * maximizing |prefix(v)ᵢ − i·total/n| over the hourly means — the
    * classic "where did the level shift?" statistic (centered cumulative
    * sum, peak at the shift point).
    *
    * Determinism across engines: hourly means are pre-rounded, the
    * prefix sum runs in hour order (a ROWS window — sequential, not
    * permutation-prone), and `total` is the LAST prefix value rather
    * than an unordered partition sum, so every double on both sides of
    * the oracle compare is built by the identical operation sequence.
    * Scale: one partial-agg pass to the hourly frame (time-bounded),
    * windows over that small frame only. */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val byHour = Window.partitionBy("event_type").orderBy("hour")
    val run = byHour.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = byHour.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val scored = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg((Exact.avgValueMicros.cast("double") / lit(1e6)).as("v"))
      .withColumn("i", row_number().over(byHour))
      .withColumn("prefix", sum("v").over(run))
      .withColumn("total", last("prefix").over(all))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("score", col("prefix") - col("i") * col("total") / col("n"))
    scored.groupBy("event_type")
      .agg(min(struct((abs(col("score")) * -1).as("na"), col("hour").as("h"),
          col("score").as("s"))).as("b"),
        count(lit(1)).as("n_hours"))
      .select(col("event_type"), col("b.h").as("cp_hour"),
        round(col("b.s"), 4).as("cusum"), col("n_hours"))
  }

  /** BOLLINGER BANDS over the hourly series — the rolling-volatility
    * envelope next to [[cusumChangepoint]]'s level view: 24-hour
    * rolling mean ± 2σ with a breach flag per hour ("is THIS hour
    * abnormal relative to its own recent regime", the adaptive
    * threshold a fixed alert level can't give). Full windows only.
    *
    * Exactness: hourly means quantize to integer micro-units; the
    * rolling Σv is an exact long over a 24-ROW frame (ordered, not
    * permutation-prone) and Σv² runs in DECIMAL(38,0) — a long squared
    * sum would silently wrap (non-ANSI mode) once |hourly mean|
    * exceeds ~6e3 (24·(6e9)² > Long.MaxValue), while the DuckDB twin's
    * HUGEINT stays exact; decimal keeps both engines loud-or-exact at
    * any magnitude. The variance subtraction runs on doubles derived
    * from those exact sums, and the breach comparison uses the
    * UNROUNDED bands so both engines flag identically. One partial-agg
    * pass to the time-bounded hourly frame; windows partition per
    * series. */
  def bollingerBands(events: DataFrame, windowHours: Int = 24,
                     k: Double = 2.0): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-(windowHours - 1), Window.currentRow)
    val h = events
      .groupBy(col("event_type"), hourKey.as("hr"))
      .agg(Exact.avgValueMicros.as("v6"))
      .withColumn("wn", count(lit(1)).over(byType))
      .withColumn("s1", sum("v6").over(byType))
      .withColumn("s2",
        sum(col("v6").cast("decimal(38,0)") * col("v6")).over(byType))
      .filter(col("wn") === windowHours)
    val n = lit(windowHours.toDouble)
    val mean = col("s1").cast("double") / n / lit(1e6)
    val varU = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n) / n
    val sigma = sqrt(varU) / lit(1e6)
    val upper = mean + lit(k) * sigma
    val lower = mean - lit(k) * sigma
    val v = col("v6").cast("double") / lit(1e6)
    // round6(s1/(24·1e6)) has a FIXED denominator (the window width),
    // so the mean's grid (24e6) is finer than the round digit — the
    // reachable half-case that split engines on the r12 second-seed
    // gate (s1 ≡ 12 mod 24). Exact half-up in micro-units instead:
    // floor((s1+12)/24), with the explicit trunc→floor adjust for
    // negative sums (Spark div truncates, DuckDB // floors).
    val half = windowHours / 2
    val meanMic = expr(s"((s1 + $half) div $windowHours) - " +
      s"(case when (s1 + $half) % $windowHours != 0" +
      s" and (s1 + $half) < 0 then 1 else 0 end)")
    h.select(col("event_type"), col("hr"),
      round(v, 6).as("value"),
      (meanMic.cast("double") / lit(1e6)).as("mean_w"),
      round(lower, 6).as("lower"),
      round(upper, 6).as("upper"),
      (v > upper || v < lower).as("breach"))
  }

  /** TWO-LEVEL BINARY SEGMENTATION over the hourly series — the
    * multi-changepoint upgrade of [[cusumChangepoint]]'s single split:
    * find the best mean-shift split of the whole series, then the best
    * split inside each half (CUSUM criterion per segment), reporting
    * up to four regimes with their bounds and means — "when did the
    * level change, and to what", not just "did it".
    *
    * Exactness: hourly means quantize to integer MICRO-units, so every
    * prefix sum is an exact long and the split criterion
    * |n·prefix − i·total| is pure integer arithmetic — the argmax (tie
    * → earliest split) is identical on any engine and partitioning;
    * only the final per-segment mean divides. Scale: one partial-agg
    * pass to the hourly frame (time-bounded, not data-bounded); the
    * level-0 split rides back as a 1-row broadcast; level-1 windows
    * partition on the segment key. */
  def binarySegmentation(events: DataFrame,
                         eventType: String = "click"): DataFrame = {
    val seg1 = cusumKnot(events, eventType)
      .withColumn("seg", when(col("i") <= col("t1"), 0).otherwise(1))
    val bySeg = Window.partitionBy("seg").orderBy("hr")
    val segRun = bySeg.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val segAll = bySeg.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val s = seg1
      .withColumn("j", row_number().over(bySeg))
      .withColumn("spre", sum("vu").over(segRun))
      .withColumn("stot", last("spre").over(segAll))
      .withColumn("sn", count(lit(1)).over(segAll))
    val b2 = s.filter(col("j") < col("sn"))
      .groupBy("seg")
      .agg(min(struct(
        (-abs(col("sn") * col("spre") - col("j") * col("stot")))
          .as("negt"),
        col("j").as("t2"))).as("b"))
      .select(col("seg"), col("b.t2").as("t2"))
    val parts = s.join(broadcast(b2), Seq("seg"), "left")
      .withColumn("sub",
        when(col("t2").isNull || col("j") <= col("t2"), 0).otherwise(1))
      .groupBy(col("seg"), col("sub"))
      .agg(min("hr").as("start_hr"), max("hr").as("end_hr"),
        count(lit(1)).as("n_hours"), sum("vu").as("su"))
    parts.select(
      row_number().over(Window.orderBy("start_hr")).cast("long")
        .as("segment"),
      col("start_hr"), col("end_hr"), col("n_hours"),
      round(col("su") / col("n_hours") / lit(1e6), 6).as("mean_value"))
  }

  /** The level-0 CUSUM split shared by [[binarySegmentation]] and
    * [[piecewiseTrend]]: the hourly micro-unit series `vu` with its
    * 1-based index `i`, plus the knot `t1` — the earliest i < n that
    * maximizes the pure-integer criterion |n·prefix − i·total|,
    * riding back as a 1-row broadcast. */
  private def cusumKnot(events: DataFrame, eventType: String)
      : DataFrame = {
    val byHr = Window.orderBy("hr")
    val run = byHr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = byHr.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val h = hourly(events, eventType)(Exact.avgValueMicros.as("vu"))
      .withColumn("i", row_number().over(byHr))
      .withColumn("pre", sum("vu").over(run))
      .withColumn("tot", last("pre").over(all))
      .withColumn("n", count(lit(1)).over(all))
    val b1 = h.filter(col("i") < col("n"))
      .select(min(struct(
        (-abs(col("n") * col("pre") - col("i") * col("tot"))).as("negt"),
        col("i").as("t1"))).as("b"))
      .select(col("b.t1").as("t1"))
    h.crossJoin(broadcast(b1))
  }

  /** PIECEWISE-LINEAR TREND at the CUSUM knot — the regression
    * companion to [[binarySegmentation]]'s level view: split the
    * hourly series at the level-0 CUSUM argmax, then fit an exact OLS
    * line per side, reporting slope and the fitted endpoints ("rising
    * 0.8/h before the break, flat after" — the shape a single global
    * slope averages away).
    *
    * Exactness: micro-quantized values and integer local indices keep
    * every OLS moment (Σj, Σv, Σjv, Σj²) an exact long, the slope
    * numerator/denominator subtract in LONG arithmetic before the one
    * division, and the knot argmax is [[binarySegmentation]]'s pure-
    * integer criterion. One pass to the hourly frame, knot rides back
    * as a 1-row broadcast, moments partial-agg per segment. */
  def piecewiseTrend(events: DataFrame,
                     eventType: String = "click"): DataFrame = {
    val g = cusumKnot(events, eventType)
      .withColumn("seg", when(col("i") <= col("t1"), 0L).otherwise(1L))
      .withColumn("j", row_number().over(
        Window.partitionBy("seg").orderBy("hr")).cast("long"))
      .groupBy("seg")
      .agg(count(lit(1)).as("m"), min("hr").as("start_hr"),
        max("hr").as("end_hr"), sum("j").as("sx"), sum("vu").as("sy"),
        sum(col("j") * col("vu")).as("sxy"),
        sum(col("j") * col("j")).as("sxx"))
    val num = (col("m") * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = (col("m") * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val slope = num / nullif(den, lit(0.0))
    val icept = col("sy").cast("double") / col("m") -
      slope * (col("sx").cast("double") / col("m"))
    g.select((col("seg") + 1).as("segment"), col("start_hr"),
      col("end_hr"), col("m").as("n_hours"),
      round(slope / 1e6, 6).as("slope_per_hour"),
      round((icept + slope * 1.0) / 1e6, 6).as("fit_start"),
      round((icept + slope * col("m")) / 1e6, 6).as("fit_end"))
  }

  /** Lagged CROSS-correlation between two event-type series ("do clicks
    * lead purchases, and by how many hours?"): both series resample to
    * hourly means, then Pearson corr at every integer-hour lag in
    * [-maxLag, +maxLag]. Positive lag correlates series A at hour h
    * with series B at hour h+lag (A leading).
    *
    * Scale shape: ONE partial-agg pass collapses events to the hourly
    * frame (hours × 2 rows — time-bounded, not data-bounded); the lag
    * expansion explodes only that small frame (2·maxLag+1 ×) and the
    * per-lag alignment is an equi-join on the shifted hour key. The
    * corr aggregate partial-aggregates map-side. Integer epoch-hour
    * keys and pre-rounded means keep both engines bit-identical. */
  def crossCorrelation(events: DataFrame, ga: String, gb: String,
                       maxLag: Int = 6): DataFrame = {
    val hourly = events.filter(col("event_type").isin(ga, gb))
      .groupBy(col("event_type"), hourKey.as("hr"))
      .agg((Exact.avgValueMicros.cast("double") / lit(1e6)).as("v"))
    val a = hourly.filter(col("event_type") === ga)
      .select(col("hr"), col("v").as("va"))
    val b = hourly.filter(col("event_type") === gb)
      .select(col("hr").as("hr_b"), col("v").as("vb"))
    a.withColumn("lag", explode(sequence(lit(-maxLag.toLong), lit(maxLag.toLong))))
      .join(b, col("hr_b") === col("hr") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_hours"), round(corr(col("va"), col("vb")), 6).as("xcorr"))
  }

  /** INTEGRATED AUTOCORRELATION TIME — the single-number fold of the
    * ACF ladder (τ_int = 1 + 2·Σ_{k≥1} ρ_k over the first `maxLag`
    * lags): the effective-sample-size deflator every MCMC/metrics
    * pipeline reads (n_eff = n/τ — τ≈1 means hourly points are
    * independent; τ≫1 means the series oscillates slowly and naive
    * CIs are overconfident). Each ρ_k quantizes to integer micro-units
    * before the unordered 12-term sum (the tx_*_ce discipline), so the
    * fold is exact and τ lands on the 2e-6 grid. Rides the same
    * hourly rollup as ts_acf — one corpus pass. */
  def autocorrTime(events: DataFrame, eventType: String = "click",
                   maxLag: Int = 12): DataFrame =
    crossCorrelation(events, eventType, eventType, maxLag)
      .filter(col("lag") >= 1)
      .select(round(col("xcorr") * 1e6).cast("long").as("rq"))
      .agg(count(lit(1)).as("n_lags"), sum("rq").as("s"))
      .select(col("n_lags"),
        round(lit(1.0) + col("s").cast("double") * 2.0 / 1e6, 6)
          .as("tau_int"))

  /** PER-EVENT-TYPE DWELL profile — how long users LINGER on each
    * event kind (ts_gaps profiles gaps per USER; sessionization needs
    * the per-TYPE read: a long dwell after 'view' and a short one
    * after 'click' say which surface holds attention): every
    * consecutive same-user gap attributes to the EARLIER event's type,
    * then per type n, mean, median and max gap seconds.
    *
    * The lead() window partitions by user_id — fully distributed (the
    * user key is the shuffle key; no global window). Gaps stay exact
    * integer micros; the mean divides exact longs; the median is the
    * exact midpoint of two longs quantized to 4dp seconds with the
    * floor convention (micros are a finer grid than 4dp — the engine
    * round() half-case). */
  def dwellByType(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("gap_us").isNotNull)
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_us").as("sg"),
        expr("percentile(gap_us, 0.5)").as("medus"),
        max("gap_us").as("mx"))
      .select(col("event_type"), col("n_gaps"),
        round(col("sg").cast("double") / col("n_gaps") / 1e6, 4)
          .as("mean_gap_s"),
        (floor(col("medus") / 100.0 + 0.5) / 1e4).as("median_gap_s"),
        (col("mx").cast("double") / 1e6).as("max_gap_s"))
  }

  /** PARTIAL autocorrelation (PACF) — the AR-order diagnostic next to
    * [[crossCorrelation]]'s ACF (an AR(p) process cuts off after lag p
    * in the PACF while its ACF decays — the classic Box-Jenkins
    * order-picking plot). The ACF computes distributed exactly as
    * ts_acf; Durbin–Levinson then runs on the DRIVER over the
    * (maxLag+1)-double ACF vector — parameter-sized by construction,
    * the same justified-scalar class as codebook training, never a
    * data-sized collect. Output (lag, acf, pacf), lag 0 = 1 by
    * convention.
    *
    * Plan note (r9): the AUTO-correlation case generates only lags
    * 0..maxLag rather than reusing [[crossCorrelation]]'s symmetric
    * ±maxLag expansion — ACF(-k) = ACF(k), so the negative half was
    * computed and discarded. Isolated fresh-JVM measurement (sf0.1,
    * local[32]): pacf 1.08 s vs ts_acf 0.72 s cold, 0.85 s vs 0.81 s
    * when run in suite order — i.e. pacf ≈ acf + ε; the r8 suite's
    * 1.53 s entry was scheduler contention, not a plan change. */
  def pacf(events: DataFrame, eventType: String = "click",
           maxLag: Int = 12): DataFrame = {
    val hourly = hourlyMeans(events, eventType)
    val b = hourly.select(col("hr").as("hr_b"), col("v").as("vb"))
    val rRows = hourly
      .withColumn("lag", explode(sequence(lit(0L), lit(maxLag.toLong))))
      .join(b, col("hr_b") === col("hr") + col("lag"))
      .groupBy("lag")
      .agg(round(corr(col("v"), col("vb")), 6).as("xcorr"))
      .filter(col("xcorr").isNotNull)
      .orderBy("lag")
      .select(col("lag").cast("int"), col("xcorr")).collect()
    val lags = rRows.map(_.getInt(0))
    val r = rRows.map(_.getDouble(1))
    val m = r.length - 1
    val pac = new Array[Double](m + 1)
    pac(0) = 1.0
    var phiPrev = Array.empty[Double] // φ_{k-1, 1..k-1}
    for (k <- 1 to m) {
      val num = r(k) - (1 until k).map(j => phiPrev(j - 1) * r(k - j)).sum
      val den = 1.0 - (1 until k).map(j => phiPrev(j - 1) * r(j)).sum
      val phikk = if (den == 0.0) 0.0 else num / den
      val phiNew = new Array[Double](k)
      for (j <- 1 until k)
        phiNew(j - 1) = phiPrev(j - 1) - phikk * phiPrev(k - j - 1)
      phiNew(k - 1) = phikk
      pac(k) = phikk
      phiPrev = phiNew
    }
    import events.sparkSession.implicits._
    lags.indices.map(i =>
        (lags(i), math.rint(r(i) * 1e6) / 1e6, math.rint(pac(i) * 1e6) / 1e6))
      .toSeq.toDF("lag", "acf", "pacf")
  }

  /** GRANGER causality test between two event-type series — "do past
    * clicks carry information about future purchases BEYOND purchases'
    * own history?" — the lag-regression upgrade of
    * [[crossCorrelation]]'s symmetric number, reported in BOTH
    * directions (x→y and y→x) because the asymmetry is the finding.
    * Restricted model y ~ own p lags vs full model + the other
    * series' p lags; F = ((RSSᵣ−RSS_f)/p) / (RSS_f/(n−2p−1)).
    *
    * Scale shape: the hourly pair frame is CALENDAR-bounded; lags are
    * windows over it; all regression moments (X'X, X'y, y'y) reduce in
    * ONE aggregate pass of DECIMAL(38,10) product sums — exact, so the
    * normal equations see identical numbers on every partitioning —
    * and the (2p+1)×(2p+1) solve is driver-side Gaussian elimination
    * on ~20 scalars (parameter-sized, the codebook class). */
  def granger(events: DataFrame, causeType: String = "click",
              effectType: String = "purchase", p: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p >= 1 && p <= 6, "lag order 1..6")
    val hourly = events.filter(col("event_type").isin(causeType, effectType))
      .groupBy(col("event_type"), hourKey.as("hr"))
      .agg((Exact.avgValueMicros.cast("double") / lit(1e6)).as("v"))
    val x = hourly.filter(col("event_type") === causeType)
      .select(col("hr"), col("v").as("x"))
    val y = hourly.filter(col("event_type") === effectType)
      .select(col("hr"), col("v").as("y"))
    val joined = x.join(y, "hr")
    val w = Window.orderBy("hr")
    // r9 [oracle] flip: series quantize to integer MICRO-units so every
    // regression moment is an exact decimal(38,0) sum (identical on any
    // engine/partitioning — the intercept regressor is 10⁶ micro-units
    // so all products share one 10¹² scale), and the normal equations
    // solve by CHOLESKY in a FIXED operation order: X'X is symmetric
    // positive (semi-)definite, so no pivoting is needed — unlike the
    // pre-r9 partial-pivot Gaussian elimination, whose data-dependent
    // row swaps an engine twin cannot replay. Every subtraction chain
    // below is left-assoc sequential, mirrored exactly by the unrolled
    // oracle algebra.
    def dir(cause: String, effect: String): (Long, Double, Double, Double) = {
      var df = joined.select(col("hr"),
        round(col(cause) * 1e6).cast("long").as("c"),
        round(col(effect) * 1e6).cast("long").as("e"))
      for (i <- 1 to p) {
        df = df.withColumn(s"e$i", lag("e", i).over(w))
          .withColumn(s"c$i", lag("c", i).over(w))
      }
      df = df.na.drop()
      // regressors (micro-units): intercept=10⁶, e1..ep, c1..cp; target e
      val regs = lit(1000000L) +: (1 to p).map(i => col(s"e$i")) ++:
        (1 to p).map(i => col(s"c$i"))
      val k = regs.length
      val dec = "decimal(38,0)"
      val sums =
        (for (i <- 0 until k; j <- i until k)
          yield sum((regs(i) * regs(j)).cast(dec)).as(s"m_${i}_$j")) ++
        (0 until k).map(i => sum((regs(i) * col("e")).cast(dec)).as(s"b_$i")) :+
        sum((col("e") * col("e")).cast(dec)).as("yy") :+
        count(lit(1)).as("n")
      val r = df.agg(sums.head, sums.tail: _*).head()
      val n = r.getAs[Long]("n")
      val xtx = Array.ofDim[Double](k, k)
      for (i <- 0 until k; j <- i until k) {
        val v = r.getAs[java.math.BigDecimal](s"m_${i}_$j").doubleValue() / 1e12
        xtx(i)(j) = v; xtx(j)(i) = v
      }
      val xty = (0 until k).map(i =>
        r.getAs[java.math.BigDecimal](s"b_$i").doubleValue() / 1e12).toArray
      val yy = r.getAs[java.math.BigDecimal]("yy").doubleValue() / 1e12
      def rss(idx: Seq[Int]): Double = {
        val m = idx.length
        val a = Array.tabulate(m, m)((i, j) => xtx(idx(i))(idx(j)))
        val b = Array.tabulate(m)(i => xty(idx(i)))
        // Cholesky a = L·Lᵀ, column by column, no pivoting
        val lm = Array.ofDim[Double](m, m)
        for (j <- 0 until m) {
          var s = a(j)(j)
          for (q <- 0 until j) s -= lm(j)(q) * lm(j)(q)
          lm(j)(j) = math.sqrt(math.max(0.0, s))
          for (i <- j + 1 until m) {
            var s2 = a(i)(j)
            for (q <- 0 until j) s2 -= lm(i)(q) * lm(j)(q)
            lm(i)(j) = if (lm(j)(j) == 0.0) 0.0 else s2 / lm(j)(j)
          }
        }
        // forward L·z = b, then back Lᵀ·β = z
        val z = new Array[Double](m)
        for (i <- 0 until m) {
          var s = b(i)
          for (q <- 0 until i) s -= lm(i)(q) * z(q)
          z(i) = if (lm(i)(i) == 0.0) 0.0 else s / lm(i)(i)
        }
        val beta = new Array[Double](m)
        for (i <- m - 1 to 0 by -1) {
          var s = z(i)
          for (q <- i + 1 until m) s -= lm(q)(i) * beta(q)
          beta(i) = if (lm(i)(i) == 0.0) 0.0 else s / lm(i)(i)
        }
        yy - beta.indices.map(i => beta(i) * xty(idx(i))).sum
      }
      val rssR = rss(0 to p)           // intercept + own lags
      val rssF = rss(0 until k)        // + cause lags
      val f = ((rssR - rssF) / p) / (rssF / (n - k))
      (n, rssR, rssF, f)
    }
    val (n1, rr1, rf1, f1) = dir("x", "y")
    val (_, rr2, rf2, f2) = dir("y", "x")
    import events.sparkSession.implicits._
    Seq(
      (s"$causeType->$effectType", n1, math.rint(rr1 * 1e4) / 1e4,
        math.rint(rf1 * 1e4) / 1e4, math.rint(f1 * 1e4) / 1e4),
      (s"$effectType->$causeType", n1, math.rint(rr2 * 1e4) / 1e4,
        math.rint(rf2 * 1e4) / 1e4, math.rint(f2 * 1e4) / 1e4))
      .toDF("direction", "n", "rss_restricted", "rss_full", "f_stat")
  }

  /** Rolling Pearson correlation between two event-type series over a
    * trailing `windowHours`-hour frame — "are clicks and purchases
    * still moving together TODAY?", the time-local companion to
    * [[crossCorrelation]]'s whole-history number.
    *
    * Engine-exact by construction: hourly means are scaled to exact
    * integers (round(avg·10⁴) as long — ⌀10⁴ keeps x² window sums well
    * inside long range at any plausible value magnitude), so every
    * windowed sum is exact
    * integer arithmetic — no float summation-order drift between
    * engines — and the corr formula then runs on identical doubles.
    * Scale shape: one partial-agg pass collapses the corpus to the
    * joined hourly frame first; the ordered window runs over that
    * calendar-bounded frame only (the striped prefix-sum skeleton of
    * st_ks is the drop-in if the frame ever outgrows one task). Only
    * full windows are emitted (a 3-hour "24-hour corr" is noise). */
  def rollingCorrelation(events: DataFrame, ga: String, gb: String,
                         windowHours: Int = 24): DataFrame = {
    val hourly = events.filter(col("event_type").isin(ga, gb))
      .groupBy(col("event_type"), hourKey.as("hr"))
      .agg(Exact.avgValue4dp.as("v"))
    val joined = hourly.filter(col("event_type") === ga)
      .select(col("hr"), col("v").as("x"))
      .join(hourly.filter(col("event_type") === gb)
        .select(col("hr").as("hr_b"), col("v").as("y")),
        col("hr") === col("hr_b"))
    val w = Window.orderBy("hr").rowsBetween(-(windowHours - 1), 0)
    val n = count(lit(1)).over(w).cast("double")
    val sx = sum("x").over(w).cast("double")
    val sy = sum("y").over(w).cast("double")
    val sxy = sum(col("x") * col("y")).over(w).cast("double")
    val sxx = sum(col("x") * col("x")).over(w).cast("double")
    val syy = sum(col("y") * col("y")).over(w).cast("double")
    joined
      .select(col("hr"), count(lit(1)).over(w).as("n_win"),
        ((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).as("c"))
      .filter(col("n_win") === windowHours)
      .select(col("hr"), col("n_win"), round(col("c"), 6).as("corr"))
  }

  /** Theil–Sen robust trend per event-type series: slope = median of
    * all pairwise difference quotients over the hourly means, intercept
    * = median residual at the series start (29.3%-breakdown — one bad
    * region of the series cannot drag the trend the way OLS lets it;
    * the robust sibling of st_ols, as st_mad is of stddev).
    *
    * Scale shape: ONE partial-agg pass collapses the corpus to hourly
    * means FIRST, so the quadratic pair join is H² where H = hours in
    * the observation window — calendar-bounded, invariant to row count
    * (100 TB of events over the same year gives the same H). x is the
    * hour offset from each series' own start (shift-invariant slopes;
    * intercept lands at the start, not extrapolated to epoch 0). The
    * slope median groups H² values per event type — fine at
    * calendar-scale H; percentile_approx is the drop-in if H ever
    * grows unbounded. Hourly means are pre-rounded so both engines
    * feed the medians identical doubles. */
  def theilSen(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), hourKey.as("hr"))
      .agg((Exact.avgValueMicros.cast("double") / lit(1e6)).as("v"))
      .withColumn("x",
        col("hr") - min("hr").over(Window.partitionBy("event_type")))
    val slopes = hourly.select(col("event_type"), col("x").as("x1"),
        col("v").as("v1"))
      .join(hourly.select(col("event_type"), col("x").as("x2"),
        col("v").as("v2")), Seq("event_type"))
      .filter(col("x2") > col("x1"))
      .select(col("event_type"),
        ((col("v2") - col("v1")) / (col("x2") - col("x1"))).as("s"))
      .groupBy("event_type")
      .agg(expr("percentile(s, 0.5)").as("m"))
    hourly.join(broadcast(slopes), Seq("event_type"))
      .withColumn("resid", col("v") - col("m") * col("x"))
      .groupBy("event_type")
      .agg(round(first("m"), 6).as("slope"),
        round(expr("percentile(resid, 0.5)"), 6).as("intercept"),
        count(lit(1)).as("n_hours"))
  }

  /** M4 downsampling — the lossless-for-rendering viz aggregation
    * (first/last/min/max per time bucket draws the same pixels as the
    * raw series): per (event_type, `bucketHours`-hour bucket), the
    * count, the value at the earliest and latest event, and the value
    * extremes. first/last come from min/max over (ts, event_id, value)
    * structs — lexicographic struct min IS "value at earliest time
    * with the event_id tiebreak", partial-aggregates map-side, and
    * needs no window sort. ONE pass at any scale. */
  def m4Downsample(events: DataFrame, bucketHours: Int = 24): DataFrame =
    events
      .groupBy(col("event_type"),
        expr(s"unix_seconds(date_trunc('hour', ts)) div ${3600L * bucketHours}")
          .as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("v_first"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("v_last"),
        min("value").as("v_min"), max("value").as("v_max"))

  /** Local-extrema peak detection on the hourly mean series: hours
    * whose value STRICTLY exceeds both neighbors AND the series mean —
    * the alerting-friendly cousin of [[cusumChangepoint]] (cusum finds
    * the one sustained level shift; this finds every transient spike).
    *
    * Engine-exact throughout: hourly means scale to exact-integer
    * round(avg·10⁴) longs (the ts_rolling_corr discipline), neighbor
    * comparisons are integer compares, and the above-mean test runs as
    * v·n > Σv in integer arithmetic — no float threshold anywhere.
    * One partial-agg pass collapses the corpus; lag/lead and the
    * whole-series sums ride ONE (event_type) exchange over the
    * calendar-bounded hourly frame. */
  def peaks(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hr")
    val wAll = Window.partitionBy("event_type")
    val hourly = events
      .groupBy(col("event_type"), hourKey.as("hr"))
      .agg(Exact.avgValue4dp.as("v"))
    hourly
      .withColumn("__prev", lag("v", 1).over(w))
      .withColumn("__next", lead("v", 1).over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum("v").over(wAll))
      .filter(col("__prev").isNotNull && col("__next").isNotNull &&
        col("v") > col("__prev") && col("v") > col("__next") &&
        col("v") * col("__n") > col("__s"))
      .select(col("event_type"), col("hr"),
        round(col("v") / lit(10000.0), 4).as("value"))
  }

  /** Goh–Barabási burstiness B = (σ−μ)/(σ+μ) and memory coefficient
    * M = corr(gapᵢ, gapᵢ₊₁) of the inter-event gaps per event type —
    * the pair that separates "bursty with long silences" (B→1) from
    * Poisson (B→0) from metronome (B→−1), and whether bursts CLUSTER
    * (M>0). The corpus-level companion to [[interArrivalStats]]'s
    * per-user profile.
    *
    * Gaps are computed WITHIN calendar days (the cross-midnight gap is
    * dropped, by definition): that makes the window partition
    * (event_type, day) — thousands of balanced partitions at any scale
    * instead of one giant per-type sort. Exactness: gaps are integer
    * epoch-second diffs, every sufficient sum (Σg, Σg², and the five
    * lag-pair sums) aggregates in exact long arithmetic, and both
    * engines run the identical double formula on identical sums
    * (day-bounded gaps ≤ 86400 keep Σg² exact in long to ~10¹² gaps).
    * ONE exchange: lag and lead share the window sort, the final
    * rollup partial-aggregates map-side. */
  def burstiness(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type", "__day")
      .orderBy("__t", "event_id")
    val g = events
      .select(col("event_type"), col("event_id"),
        col("ts").cast("long").as("__t"), to_date(col("ts")).as("__day"))
      .withColumn("__gap", col("__t") - lag("__t", 1).over(w))
      .withColumn("__nxt", lead("__gap", 1).over(w))
      .filter(col("__gap").isNotNull)
    val s = g.groupBy("event_type").agg(
      count(lit(1)).as("n_gaps"),
      sum(col("__gap")).as("s1"),
      sum(col("__gap") * col("__gap")).as("s2"),
      count(col("__nxt")).as("np"),
      sum(when(col("__nxt").isNotNull, col("__gap"))).as("sx"),
      sum(col("__nxt")).as("sy"),
      sum(when(col("__nxt").isNotNull, col("__gap") * col("__nxt")))
        .as("sxy"),
      sum(when(col("__nxt").isNotNull, col("__gap") * col("__gap")))
        .as("sxx"),
      sum(col("__nxt") * col("__nxt")).as("syy"))
    val nd = col("n_gaps").cast("double")
    val (s1, s2) = (col("s1").cast("double"), col("s2").cast("double"))
    val mu = s1 / nd
    val sd = sqrt((s2 - s1 * mu) / (nd - lit(1.0)))
    val np = col("np").cast("double")
    val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"),
      col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    s.select(col("event_type"), col("n_gaps"),
      round((sd - mu) / nullif(sd + mu, lit(0.0)), 6).as("burstiness"),
      round((np * sxy - sx * sy) /
        nullif(sqrt((np * sxx - sx * sx) * (np * syy - sy * sy)), lit(0.0)),
        6).as("memory"))
  }

  /** MANN–KENDALL trend test over the hourly series — the SIGNIFICANCE
    * companion to ts_theil_sen (Theil–Sen answers "how steep", MK
    * answers "is there a monotone trend at all", with no linearity or
    * normality assumption — Kendall tau against time itself):
    * S = Σ_{i<j} sign(vⱼ−vᵢ) over the calendar-bounded hourly frame's
    * self-join (pair count bounded by the calendar², never the data),
    * variance with the standard tie correction Σt(t−1)(2t+5), and the
    * ±1-continuity-corrected z. Means round 6dp pre-pair so both
    * engines sign identical comparisons; S and the tie sums are exact
    * longs. */
  def mannKendall(events: DataFrame,
                  eventType: String = "click"): DataFrame = {
    val hourly = hourlyMeans(events, eventType)
    val b = hourly.select(col("hr").as("hr2"), col("v").as("v2"))
    val s = hourly.join(broadcast(b), col("hr") < col("hr2"))
      .agg(sum(signum(col("v2") - col("v")).cast("long")).as("s"))
    val ties = hourly.groupBy("v").agg(count(lit(1)).as("t"))
      .agg(count(lit(1)).as("nv"), sum("t").as("n"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tsum"))
    val j = s.crossJoin(broadcast(ties))
    val n = col("n").cast("double")
    val varS = (n * (n - 1.0) * (lit(2.0) * n + 5.0) -
      col("tsum").cast("double")) / 18.0
    val z = when(col("s") > 0, (col("s") - lit(1L)).cast("double") /
        sqrt(varS))
      .when(col("s") < 0, (col("s") + lit(1L)).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    j.select(col("n").cast("long").as("n"), col("s"),
      round(z, 4).as("z"))
  }

  /** SEASONAL Mann–Kendall (Hirsch–Slack) — the trend test
    * [[mannKendall]] gives WRONG answers on seasonal data (a flat
    * series with a daily cycle generates spurious cross-hour sign
    * pairs): pairs compare only WITHIN a season (hour-of-day), each
    * season contributes its own S_h and tie-corrected variance, and
    * the combined Z = (ΣS_h ∓ 1)/√ΣVar_h detects a monotone
    * day-over-day trend net of the daily shape.
    *
    * Scale shape: the (day, hour) frame is calendar-bounded; the
    * within-season pair join is an equi-join on hour-of-day (pairs
    * bounded by 24·days², never data-sized; at extreme spans the
    * season key salts like any 24-key skew join). S and every
    * variance term are EXACT longs (6dp-rounded means sign identical
    * comparisons on both engines); one double division at the close. */
  def seasonalMannKendall(events: DataFrame,
                          eventType: String = "click"): DataFrame = {
    val hv = hourlyMeans(events, eventType)
      .select((col("hr") % 24).as("hod"),
        expr("hr div 24").as("day"), col("v"))
    val b = hv.select(col("hod"), col("day").as("day2"),
      col("v").as("v2"))
    val sTot = hv.join(b, Seq("hod"))
      .filter(col("day") < col("day2"))
      .agg(sum(signum(col("v2") - col("v")).cast("long")).as("s"))
    val vars = hv.groupBy("hod", "v").agg(count(lit(1)).as("t"))
      .groupBy("hod")
      .agg(sum("t").as("nh"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tsumh"))
      .agg(count(lit(1)).as("n_seasons"), sum("nh").as("n"),
        sum(col("nh") * (col("nh") - 1) * (lit(2) * col("nh") + 5) -
          col("tsumh")).as("varnum"))
    val j = sTot.crossJoin(broadcast(vars))
    val varS = col("varnum").cast("double") / 18.0
    val z = when(col("s") > 0,
        (col("s") - lit(1L)).cast("double") / sqrt(varS))
      .when(col("s") < 0,
        (col("s") + lit(1L)).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    j.select(col("n_seasons"), col("n").cast("long").as("n"),
      col("s"), round(z, 4).as("z"))
  }

  /** PETTITT change-point test on the hourly series (the WHERE to
    * [[mannKendall]]'s WHETHER, and the rank-based sibling of
    * ts_cusum/ts_binseg's moment-based splits — robust to outliers and
    * any monotone transform): Uₜ = Σᵢ≤ₜΣⱼ>ₜ sgn(xⱼ−xᵢ), K = max|Uₜ|,
    * the change point is the first t attaining K, with the classic
    * approximation p ≈ 2·exp(−6K²/(n³+n²)) capped at 1.
    *
    * NOT the quadratic double sum: with midranks rᵢ the inner sums
    * collapse to Uₜ = t(n+1) − Σᵢ≤ₜ2rᵢ — one distinct-value rank
    * frame (2r = 2·below + t + 1 stays an exact INTEGER), one join
    * back on the value key, one running sum over the hour order.
    * Every Uₜ is an exact long on any partitioning; the only float is
    * the final p. Both windows ride the calendar-bounded hourly frame
    * (the kendallTau contract — documented, never data-sized). */
  def pettitt(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = hourly.groupBy("v").agg(count(lit(1)).as("t"))
      .select(col("v"),
        (coalesce(sum("t").over(wv), lit(0L)) * 2 + col("t") + 1)
          .as("r2"))
    val nRow = broadcast(hourly.agg(count(lit(1)).as("n")))
    val wt = Window.orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, 0)
    val u = hourly.join(ranks, "v").crossJoin(nRow)
      .select(col("hr"), col("n"),
        (row_number().over(Window.orderBy("hr")).cast("long") *
          (col("n") + 1) - sum("r2").over(wt)).as("u"))
    val kRow = broadcast(u.agg(max(abs(col("u"))).as("k")))
    val at = u.crossJoin(kRow).filter(abs(col("u")) === col("k"))
      .agg(min("hr").as("t_star"), max("n").as("n"), max("k").as("k"))
    val nD = col("n").cast("double")
    at.select(col("n"), col("t_star"), col("k").as("k_stat"),
      round(least(lit(1.0), lit(2.0) *
        exp(col("k").cast("double") * col("k") * -6.0 /
          (nD * nD * nD + nD * nD))), 6).as("p_value"))
  }

  /** SAMPLE ENTROPY (m=2, r=0.2σ) of the hourly series — the
    * regularity number ([[permutationEntropy]] scores ORDER patterns,
    * SampEn scores amplitude-aware repeatability: low = the series
    * repeats its own templates, high = nothing predicts the next
    * step): SampEn = −ln(A/B) with B = matching template pairs of
    * length m and A of length m+1 under the Chebyshev distance,
    * self-matches excluded, both counts over the same i,j ≤ n−m pair
    * set (the standard convention that keeps A ⊆ B).
    *
    * Engine-exact counting: values micro-quantize to longs, the
    * tolerance r quantizes ONCE from the exact integer moment sums
    * (σ via (nΣv²−(Σv)²)/(n(n−1)) — no float stddev drift), so every
    * |Δ| ≤ r compare is integer-vs-integer and A, B are exact longs on
    * both engines; −ln(A/B) is the one float at the close. The
    * template frame rides two lead() steps and the pair join is the
    * calendar-bounded broadcast self-join (kendallTau contract). */
  def sampleEntropy(events: DataFrame, eventType: String = "click",
                    rFrac: Double = 0.2): DataFrame = {
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val rRow = tolerance(hourly, rFrac)
    val w = Window.orderBy("hr")
    val tpl = hourly
      .select(row_number().over(w).as("i"), col("v").as("v0"),
        lead("v", 1).over(w).as("v1"), lead("v", 2).over(w).as("v2"))
      .filter(col("v2").isNotNull)
    val b = tpl.select(col("i").as("j"), col("v0").as("u0"),
      col("v1").as("u1"), col("v2").as("u2"))
    val pairs = tpl.join(broadcast(b), col("i") < col("j"))
      .crossJoin(rRow)
      .select(
        (greatest(abs(col("v0") - col("u0")), abs(col("v1") - col("u1")))
          <= col("r")).as("m2"),
        (greatest(abs(col("v0") - col("u0")), abs(col("v1") - col("u1")),
          abs(col("v2") - col("u2"))) <= col("r")).as("m3"),
        col("r"))
    val c = pairs.agg(max("r").as("r6"),
      sum(when(col("m2"), 1L).otherwise(0L)).as("b"),
      sum(when(col("m3"), 1L).otherwise(0L)).as("a"))
    // a=0 or b=0: no matching templates at one scale — SampEn is
    // undefined, report null rather than ±inf (ln(0) diverges between
    // engines: Spark nulls, DuckDB returns -inf)
    c.select(round(col("r6") / 1e6, 6).as("r"), col("b"), col("a"),
      when(col("a") === 0 || col("b") === 0, lit(null).cast("double"))
        .otherwise(round(-log(col("a").cast("double") /
          col("b").cast("double")), 6)).as("sampen"))
  }

  /** The template-match tolerance r = round(rFrac·σ) of
    * [[sampleEntropy]] and [[recurrenceMetrics]], in the micro units of
    * the hourly series `v`, as a 1-row broadcast: σ comes from the
    * exact integer moment sums (nΣv²−(Σv)²)/(n(n−1)), so r is one
    * quantization with no float stddev drift. */
  private def tolerance(hourly: DataFrame, rFrac: Double): DataFrame = {
    val dec = "decimal(38,0)"
    broadcast(hourly.agg(count(lit(1)).as("nn"),
        sum(col("v").cast(dec)).cast(dec).as("sv"),
        sum((col("v").cast(dec) * col("v").cast(dec)).cast(dec))
          .cast(dec).as("svv"))
      .select(floor(sqrt((col("nn").cast(dec) * col("svv") -
          col("sv") * col("sv")).cast("double") /
          (col("nn").cast("double") * (col("nn") - lit(1)))) * rFrac
          + 0.5)
        .cast("long").as("r")))
  }

  /** RECURRENCE-PLOT metrics on the hourly series — the
    * nonlinear-dynamics view [[sampleEntropy]] summarizes in one
    * number, split into its two classic axes: RR (recurrence rate —
    * what fraction of hour-pairs revisit the same state, |vᵢ−vⱼ| ≤ r
    * at the sampen r = 0.2·sd convention) and lag-1 diagonal
    * DETERMINISM (among recurrent pairs, how many are followed by a
    * recurrent pair one step later — recurrences organized in diagonal
    * lines mean the DYNAMICS repeat, scattered dots mean noise; this
    * is the minimal-line-length-2 DET of the RQA literature,
    * documented contract).
    *
    * Same calendar-bounded machinery as [[sampleEntropy]]: micro-unit
    * quantized hourly longs (every comparison an exact integer), one
    * lead-window pass attaches vₜ₊₁, the pair frame is the bounded
    * i<j self-join, r rides a 1-row broadcast. Pairs whose successor
    * falls off the series end count for RR but not DET (both engines
    * drop them identically via the null lead). */
  def recurrenceMetrics(events: DataFrame, eventType: String = "click",
                        rFrac: Double = 0.2): DataFrame = {
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val rRow = tolerance(hourly, rFrac)
    val w = Window.orderBy("hr")
    val tpl = hourly
      .select(row_number().over(w).as("i"), col("v").as("v0"),
        lead("v", 1).over(w).as("v1"))
    val b = tpl.select(col("i").as("j"), col("v0").as("u0"),
      col("v1").as("u1"))
    val pairs = tpl.join(broadcast(b), col("i") < col("j"))
      .crossJoin(rRow)
      .select((abs(col("v0") - col("u0")) <= col("r")).as("rec"),
        (col("v1").isNotNull && col("u1").isNotNull &&
          abs(col("v1") - col("u1")) <= col("r")).as("recnext"),
        col("r"))
    val c = pairs.agg(max("r").as("r6"), count(lit(1)).as("npairs"),
      sum(when(col("rec"), 1L).otherwise(0L)).as("nrec"),
      sum(when(col("rec") && col("recnext"), 1L).otherwise(0L))
        .as("ndet"))
    c.select(round(col("r6") / 1e6, 6).as("r"), col("npairs"),
      col("nrec"),
      round(col("nrec").cast("double") /
        nullif(col("npairs").cast("double"), lit(0.0)), 6).as("rr"),
      round(col("ndet").cast("double") /
        nullif(col("nrec").cast("double"), lit(0.0)), 6).as("det1"))
  }

  /** PERIODOGRAM over candidate periods — dominant-cycle detection for
    * the hourly series ("is the rhythm daily, half-daily, weekly?"
    * asked directly, where ts_acf answers it only implicitly): the
    * DFT power at each candidate period P, power(P) = C² + S² with
    * C = Σ v̄·cos(2πt/P), S = Σ v̄·sin(2πt/P) over the mean-centered
    * series. Each candidate is one pair of sums; all candidates ride
    * ONE explode of the calendar-bounded hourly frame (hours ×
    * |periods| rows — still calendar-sized) into a single partial-agg
    * rollup. Power normalizes by n so corpora of different spans
    * compare; round 4. */
  def periodogram(events: DataFrame, eventType: String = "click",
                  periods: Seq[Int] = Seq(6, 8, 12, 24, 48, 168))
      : DataFrame = {
    val hourly = hourlyMeans(events, eventType)
    val mean = hourly.agg(round(avg("v"), 6).as("vm"),
      count(lit(1)).as("n"))
    val centered = hourly.crossJoin(broadcast(mean))
      .select(col("hr"), (col("v") - col("vm")).as("vc"), col("n"))
    centered
      .withColumn("period",
        explode(array(periods.map(p => lit(p)): _*)))
      // reduce the phase BEFORE the trig: hr is an absolute epoch hour
      // (~5e5) and large-argument cos is where libms disagree most;
      // hr mod P is exact integer arithmetic and identical both engines
      .withColumn("theta",
        lit(2.0 * math.Pi) * pmod(col("hr"), col("period"))
          .cast("double") / col("period"))
      .groupBy("period")
      .agg(max("n").as("n"),
        sum(col("vc") * cos(col("theta"))).as("c"),
        sum(col("vc") * sin(col("theta"))).as("s"))
      .select(col("period"), col("n"),
        round((col("c") * col("c") + col("s") * col("s")) /
          col("n").cast("double"), 4).as("power"))
  }

  /** SYNTETOS–BOYLAN DEMAND CLASSIFICATION over per-part daily demand
    * — the supply-chain taxonomy that decides which FORECASTER each
    * part deserves (smooth parts suit exponential smoothing;
    * intermittent/lumpy parts need Croston-class methods — running SES
    * on lumpy demand is the classic planning failure this grid
    * exists to prevent): per part, ADI = mean inter-demand interval
    * (span/(demand days−1)) and CV² = population variance/mean² of the
    * nonzero daily quantities; quadrant thresholds ADI 1.32 / CV²
    * 0.49; parts seen on a single day class as 'single' (no interval
    * exists — documented).
    *
    * Exact integer inputs throughout: demand days and spans are date
    * arithmetic, CV² = (n·Σq²−(Σq)²)/(Σq)² is a ratio of exact
    * decimals; one rollup to (part, day), one per-part aggregate,
    * class-bounded output. */
  def demandClasses(lineitem: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = lineitem.groupBy(col("l_partkey").as("pk"),
        to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("q"))
    val per = daily.groupBy("pk")
      .agg(count(lit(1)).as("nd"),
        (datediff(max("day"), min("day"))).cast("long").as("span"),
        sum(col("q").cast(dec)).as("sq"),
        sum(col("q").cast(dec) * col("q").cast(dec)).as("sqq"))
    val nD = col("nd").cast("double")
    val adi = col("span").cast("double") / (nD - 1.0)
    val cv2 = (nD * col("sqq").cast("double") -
      col("sq").cast("double") * col("sq").cast("double")) /
      (col("sq").cast("double") * col("sq").cast("double"))
    per.select(
        when(col("nd") < 2, "single")
          .when(adi < 1.32 && cv2 < 0.49, "smooth")
          .when(adi >= 1.32 && cv2 < 0.49, "intermittent")
          .when(adi < 1.32 && cv2 >= 0.49, "erratic")
          .otherwise("lumpy").as("demand_class"))
      .groupBy("demand_class")
      .agg(count(lit(1)).as("n_parts"))
  }

  /** MAXIMUM DRAWDOWN of the daily revenue level — the risk number a
    * mean or variance cannot express ("how far below its best day has
    * this series ever sunk" — THE metric for anything managed against
    * a high-water mark, and for capacity/revenue planning the honest
    * answer to 'how bad does a slump get'): running peak of the daily
    * totals, drawdown = peak − today, maximum over the calendar with
    * the FIRST trough reported. Exact cent longs end to end — the
    * running max, the differences, and the argmax tiebreak are all
    * integer comparisons; one rollup + one day-ordered window. */
  def maxDrawdown(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
    val wIncl = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dd = daily
      .withColumn("peak", max("v").over(wIncl))
      .withColumn("dd", col("peak") - col("v"))
    val top = dd.agg(max("dd").as("mdd"), count(lit(1)).as("n_days"))
    dd.crossJoin(broadcast(top))
      .filter(col("dd") === col("mdd"))
      .groupBy("mdd", "n_days")
      // the peak must be the one AT the first trough row, not a min
      // over tied rows — keep (day, peak) together through the argmin
      .agg(min(struct(col("day"), col("peak"))).as("t"))
      .select(col("n_days"), col("t.day").as("trough_day"),
        round(col("mdd").cast("double") / 100.0, 2).as("max_drawdown"),
        round(col("t.peak").cast("double") / 100.0, 2)
          .as("peak_revenue"))
  }

  /** SPECTRAL FLATNESS (Wiener entropy) of the candidate-period
    * spectrum — ONE number for "is there a rhythm at all": the
    * geometric/arithmetic mean ratio of [[periodogram]]'s powers.
    * Near 1 = white-noise-flat spectrum (ts_periodogram's argmax is
    * then meaningless — this is the gate in front of it); near 0 =
    * power concentrated in few periods (a real cycle). Also reports
    * the dominant period (power argmax, ties to the shorter period).
    *
    * Determinism: powers arrive round-4 from the shared periodogram
    * definition, re-quantize to exact 1e4 longs, and each ln term
    * quantizes to micro-units BEFORE the sum (order-free longs — the
    * tx_entropy discipline); one exp/division row out. Any zero
    * power short-circuits flatness to 0 (ln diverges — documented). */
  def spectralFlatness(events: DataFrame, eventType: String = "click",
                       periods: Seq[Int] = Seq(6, 8, 12, 24, 48, 168))
      : DataFrame = {
    val pg = periodogram(events, eventType, periods)
    pg.select(col("period"),
        round(col("power") * 1e4).cast("long").as("p4"))
      .agg(count(lit(1)).as("k"), sum("p4").as("sp4"),
        sum(when(col("p4") > 0,
          round(log(col("p4").cast("double")) * 1e6).cast("long")))
          .as("sl"),
        sum(when(col("p4") === 0, 1L).otherwise(0L)).as("zeros"),
        max(struct(col("p4"), (-col("period")).as("np"))).as("dom"))
      .select(col("k"),
        (-col("dom.np")).cast("long").as("dominant_period"),
        when(col("zeros") > 0, lit(0.0)).otherwise(
          round(exp(col("sl").cast("double") / 1e6 / col("k")) *
            col("k") / col("sp4"), 6)).as("flatness"))
  }

  /** SPLIT-CONFORMAL prediction interval for the seasonal-naive
    * hourly forecast — distribution-free coverage: the calibration
    * half's |residuals| yield the (1−α) order statistic q at rank
    * ⌈(1−α)(n+1)⌉ (the finite-sample-valid conformal rank, an exact
    * integer rank selection — no interpolation, engine-identical), and
    * pred ± q is then CHECKED on the held-out half. Reported coverage
    * near nominal is the guarantee working on real data; far below
    * says the residual distribution drifted between halves.
    *
    * Scale: everything runs on the calendar-bounded hourly frame (one
    * ordered lag-24 window, one rank window over the calibration
    * slice, a 1-row broadcast of q). */
  def conformalInterval(events: DataFrame, eventType: String = "click",
                        alpha: Double = 0.1, calDays: Int = 14)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("hr")
    val hourly = hourlyMeans(events, eventType)
      .withColumn("pred", lag("v", 24).over(w))
      .filter(col("pred").isNotNull)
      .withColumn("r", round(abs(col("v") - col("pred")), 6))
    val minHr = hourly.agg(min("hr").as("h0"))
    val marked = hourly.crossJoin(broadcast(minHr))
      .withColumn("cal", col("hr") < col("h0") + calDays * 24)
    val cal = marked.filter(col("cal"))
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("r"), col("hr"))
    val q = cal.withColumn("rk", row_number().over(rw))
      .crossJoin(broadcast(cal.agg(count(lit(1)).as("nc"))))
      .filter(col("rk") ===
        least(ceil((lit(1.0) - alpha) * (col("nc") + 1)).cast("long"),
          col("nc")))
      .select(col("r").as("q"), col("nc"))
    marked.filter(!col("cal")).crossJoin(broadcast(q))
      .agg(max("nc").as("n_cal"), count(lit(1)).as("n_test"),
        max("q").as("q"),
        sum(when(col("r") <= col("q"), 1L).otherwise(0L)).as("inside"))
      .select(col("n_cal"), col("n_test"), col("q"),
        round(col("inside").cast("double") / col("n_test"), 6)
          .as("coverage"), lit(1.0 - alpha).as("nominal"))
  }

  /** DAY-SHAPE OUTLIER score — RMS distance of each day's hourly
    * profile from the average day's ([[saxWords]] finds recurring
    * shapes by symbol; this is the continuous score that RANKS how far
    * each day strays, catching the partial outage or campaign spike
    * that still hashes to a common word). One hourly rollup, the
    * 24-row average profile joins back on hour-of-day (broadcast),
    * per-day RMS over its ≤24 deviations, ranked worst-first. */
  def dayProfileOutliers(events: DataFrame, eventType: String = "click",
                         topK: Int = 10): DataFrame = {
    val hourly = hourlyMeans(events, eventType)
      .select(floor(col("hr") / 24).as("day"),
        pmod(col("hr"), lit(24)).as("hod"), col("v"))
    val profile = hourly.groupBy("hod")
      .agg(round(avg("v"), 6).as("pv"))
    hourly.join(broadcast(profile), Seq("hod"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_hours"),
        round(sqrt(avg((col("v") - col("pv")) * (col("v") - col("pv")))),
          6).as("rms_dev"))
      .orderBy(desc("rms_dev"), asc("day"))
      .limit(topK)
  }

  /** SAX (Symbolic Aggregate approXimation) daily words over the
    * hourly series — each complete day z-normalizes against its own
    * mean/sd, averages into `24/blockHours` PAA blocks, and maps each
    * block to {a,b,c,d} at the Gaussian quartile breakpoints
    * (±0.6745, 0). The word is the day's SHAPE stripped of level and
    * scale, so equal words are recurring intraday motifs — the
    * discretization that turns a 100 TB series into a joinable,
    * countable key (motif mining, whole-day anomaly screens: a day
    * whose word appears once is a shape outlier).
    *
    * Scale: two partial-agg rollups (day stats, day×block PAA) on the
    * calendar-bounded hourly frame, a days-sized equi-join, the word
    * assembled by an in-group sort of ≤6 structs — no window over
    * data-sized frames; the motif count is a window over the
    * days-sized word frame. z rounds 6dp before the breakpoint compare
    * (boundaries: z < −0.6745 → a, z < 0 → b, z < 0.6745 → c) so both
    * engines pick identical symbols. */
  def saxWords(events: DataFrame, eventType: String = "click",
               blockHours: Int = 4): DataFrame = {
    val hourly = hourlyMeans(events, eventType)
      .withColumn("day", floor(col("hr") / 24))
    val dstats = hourly.groupBy("day")
      .agg(avg("v").as("mu"), stddev_pop(col("v")).as("sd"),
        count(lit(1)).as("nh"))
      .filter(col("nh") === 24)
    val paa = hourly
      .withColumn("block", floor(pmod(col("hr"), lit(24)) / blockHours))
      .groupBy("day", "block").agg(avg("v").as("bv"))
    val sym = paa.join(dstats, "day")
      .withColumn("z",
        round((col("bv") - col("mu")) / nullif(col("sd"), lit(0.0)), 6))
      .withColumn("s",
        when(col("z") < -0.6745, "a").when(col("z") < 0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d"))
    val words = sym.groupBy("day")
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct(col("block"), col("s")))),
          x => x.getField("s"))).as("word"))
    words
      .withColumn("n_days_sharing", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("word")))
      .orderBy("day")
  }

  /** LO–MACKINLAY VARIANCE-RATIO screen on the hourly series — the
    * random-walk test: under a walk, the variance of q-step changes is
    * exactly q times the 1-step variance, so VR(q)≠1 diagnoses
    * mean-reversion (<1) or momentum (>1). Overlapping q-step diffs
    * from ONE ordered window (lags 1 and q share the sort); screen
    * form (population variances, homoskedastic z = (VR−1)/√φ,
    * φ = 2(2q−1)(q−1)/(3qn) — documented; no heteroskedasticity
    * correction). Calendar-bounded hourly frame, one window pass, one
    * rollup per q. */
  def varianceRatio(events: DataFrame, eventType: String = "click",
                    qs: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    val hourly = hourlyMeans(events, eventType)
    val w = org.apache.spark.sql.expressions.Window.orderBy("hr")
    val lagged = hourly.select(
      (col("v") - lag("v", 1).over(w)).as("d1") +:
        qs.map(q => (col("v") - lag("v", q).over(w)).as(s"d$q")): _*)
    val aggCols = Seq(var_pop(col("d1")).as("v1")) ++
      qs.flatMap(q => Seq(var_pop(col(s"d$q")).as(s"v$q"),
        count(col(s"d$q")).cast("double").as(s"n$q")))
    val base = lagged.agg(aggCols.head, aggCols.tail: _*)
    base.select(explode(array(qs.map { q =>
      struct(lit(q).as("q"), col(s"n$q").as("nq"),
        (col(s"v$q") / nullif(lit(q.toDouble) * col("v1"), lit(0.0)))
          .as("vr"))
    }: _*)).as("g"))
      .select(col("g.q").as("q"), col("g.nq").cast("long").as("n"),
        round(col("g.vr"), 6).as("vr"),
        round((col("g.vr") - 1) /
          sqrt(lit(2.0) * (col("g.q") * 2 - 1) * (col("g.q") - 1) /
            (lit(3.0) * col("g.q") * col("g.nq"))), 4).as("z"))
      .orderBy("q")
  }

  /** SPECTRAL ENTROPY over [[periodogram]]'s candidate-period powers —
    * the one-number forecastability score: power concentrated in one
    * cycle (entropy → 0) means a seasonal model will capture the
    * series; power spread flat across candidates (entropy → 1) means
    * there is no cycle to exploit. Normalized Shannon entropy
    * −Σp·ln p/ln k over the k candidate powers — computed FROM the
    * 4dp-rounded powers the periodogram already publishes, so both
    * engines walk identical doubles; zero-power candidates contribute
    * nothing (lim p·ln p = 0, guarded). Candidates-sized input, 1-row
    * output. */
  def spectralEntropy(events: DataFrame, eventType: String = "click",
                      periods: Seq[Int] = Seq(6, 8, 12, 24, 48, 168))
      : DataFrame = {
    val pg = periodogram(events, eventType, periods)
    val tot = pg.agg(sum("power").as("ptot"), count(lit(1)).as("k"),
      max("n").as("nh"))
    pg.crossJoin(broadcast(tot))
      .withColumn("p", col("power") / nullif(col("ptot"), lit(0.0)))
      .agg(max("nh").as("n"), max("k").as("n_periods"),
        round(max(col("ptot")), 4).as("total_power"),
        round(-sum(when(col("p") > 0, col("p") * log(col("p")))
          .otherwise(lit(0.0))) / log(max(col("k")).cast("double")), 6)
          .as("spectral_entropy"))
  }

  /** ENGLE–GRANGER cointegration screen between the hourly click and
    * view series — "do these two wandering series share a common
    * stochastic trend" (correlation on levels is spurious for
    * integrated series; cointegration asks whether a LINEAR COMBO is
    * stationary): step 1 fits y ~ x on the aligned hourly frame
    * (coefficients ROUNDED 6dp before residuals so both engines
    * compute identical r), step 2 runs the Dickey–Fuller regression
    * Δr_t = ρ·r_{t−1} (through the origin, no augmentation lags —
    * documented: the screen form; compare df_stat to the Engle–Granger
    * critical values off-engine). Everything runs on the
    * calendar-bounded hourly frame: one conditional-avg pass, one
    * aligned self-frame, two sum rollups. */
  def cointegration(events: DataFrame, typeA: String = "click",
                    typeB: String = "view"): DataFrame = {
    val hourly = alignedHourly(events, typeA, typeB)
    val fit = hourly.agg(
      round(regr_slope(col("y"), col("x")), 6).as("beta"),
      round(regr_intercept(col("y"), col("x")), 6).as("alpha"))
    val resid = hourly.crossJoin(broadcast(fit))
      .select(col("hr"),
        (col("y") - col("alpha") - col("beta") * col("x")).as("r"),
        col("beta"), col("alpha"))
    val w = Window.orderBy("hr")
    val lagged = resid
      .withColumn("rl", lag("r", 1).over(w))
      .filter(col("rl").isNotNull)
      .select(col("rl").as("a"), (col("r") - col("rl")).as("b"),
        col("beta"), col("alpha"))
    val s = lagged.agg(count(lit(1)).as("n"),
      sum(col("a") * col("b")).as("s1"), sum(col("a") * col("a")).as("s2"),
      sum(col("b") * col("b")).as("sbb"),
      max("beta").as("beta"), max("alpha").as("alpha"))
    val rho = col("s1") / col("s2")
    val sse = col("sbb") - col("s1") * col("s1") / col("s2")
    val t = rho / sqrt((sse / (col("n") - lit(1.0))) / col("s2"))
    s.select(col("n"), col("beta"), col("alpha"),
      round(rho, 6).as("rho"), round(t, 4).as("df_stat"))
  }

  /** PERMUTATION ENTROPY of the hourly series (Bandt–Pompe, embedding
    * dimension 3) — the robust regularity/complexity measure: each
    * consecutive triple maps to one of 6 ordinal patterns (only the
    * ORDER matters, so outliers and monotone rescalings don't move it,
    * unlike anything variance-based); H = −Σp·ln p / ln 6 ∈ [0,1],
    * 0 = perfectly predictable ordering, 1 = all patterns equally
    * likely. Ties break toward the earlier index (the standard
    * convention, made engine-exact by comparing 6dp-rounded means with
    * `<=` on the left neighbor).
    *
    * Scale shape: corpus → calendar-bounded hourly frame in one
    * partial-agg pass; the two leads ride ONE ordered window on that
    * aggregate frame; the pattern histogram is a ≤6-row rollup. */
  def permutationEntropy(events: DataFrame,
                         eventType: String = "click"): DataFrame = {
    val hourly = hourlyMeans(events, eventType)
    val w = Window.orderBy("hr")
    val trip = hourly
      .withColumn("v1", lead("v", 1).over(w))
      .withColumn("v2", lead("v", 2).over(w))
      .filter(col("v1").isNotNull && col("v2").isNotNull)
    // ordinal pattern of (v, v1, v2) with earlier-index-wins ties:
    // a = [v <= v1], b = [v <= v2], c = [v1 <= v2] — the 2^3 corner
    // combinations collapse to the 6 valid permutations
    val a = (col("v") <= col("v1")).cast("int")
    val b = (col("v") <= col("v2")).cast("int")
    val c = (col("v1") <= col("v2")).cast("int")
    val pat = trip.select(
      (a * 4 + b * 2 + c).as("code"))
      .groupBy("code").agg(count(lit(1)).as("n"))
    val tot = pat.agg(sum("n").as("nt"), count(lit(1)).as("k"))
    pat.crossJoin(broadcast(tot))
      .agg(max("nt").as("n_triples"), max("k").as("n_patterns"),
        sum((col("n") / col("nt").cast("double")) *
          log(col("n") / col("nt").cast("double"))).as("s"))
      .select(col("n_triples"), col("n_patterns"),
        round(-col("s") / math.log(6.0), 6).as("perm_entropy"))
  }

  /** BANDED dynamic time warping distance between the two hourly
    * series — the elastic similarity measure ([[crossCorrelation]]
    * needs a single global lag; DTW tolerates local speed-ups and
    * stalls, the shape-matching metric for "do these two metrics move
    * together even when one lags irregularly").
    *
    * Scale: the corpus collapses to two calendar-bounded series in one
    * partial-agg pass; the DP is inherently sequential and QUADRATIC,
    * so it runs driver-side over the aggregate arrays under a
    * Sakoe–Chiba band (|i−j| ≤ `band`) — O(n·band) cells, which keeps
    * a decade of hourly data (~87k points × 48-wide band ≈ 4M cells)
    * in driver-milliseconds territory; an unbanded n² over raw data
    * would be wrong at ANY scale. The collect is calendar-bounded, the
    * same justified class as ts_pacf's ACF vector. Output: one row —
    * series lengths, total DTW cost, per-step cost along the warp
    * path. */
  def dtwDistance(events: DataFrame, typeA: String = "click",
                  typeB: String = "view", band: Int = 24,
                  grain: String = "hour"): DataFrame = {
    val grainSec = grain match {
      case "hour" => 3600L
      case "day"  => 86400L
      case g => throw new IllegalArgumentException(s"grain: $g")
    }
    val binned = events.filter(col("event_type").isin(typeA, typeB))
      .groupBy(col("event_type"),
        expr(s"unix_seconds(date_trunc('$grain', ts)) div $grainSec")
          .as("hr"))
      .agg((Exact.avgValueMicros.cast("double") / lit(1e6)).as("v"))
      .orderBy("hr")
    // r9 [oracle] flip: values quantize to micro-unit LONGS, so the DP
    // is exact integer min-plus algebra — every algebraically-equal
    // formulation yields identical numbers, which lets the DuckDB twin
    // replay each DP row as prefix-sums + a prefix-min window (the
    // min-plus expansion cur(j) = C(j) + min_k [min(prev(k), prev(k−1))
    // − C(k−1)]) inside ONE keyed recursive CTE instead of the
    // inherently sequential inner loop
    def series(t: String): Array[Long] = binned
      .filter(col("event_type") === t).select("v").collect()
      .map(r => math.rint(r.getDouble(0) * 1e6).toLong)
    val (xs, ys) = (series(typeA), series(typeB))
    val (n, m) = (xs.length, ys.length)
    val out = if (n == 0 || m == 0) (n, m, -1.0, -1.0, 0L)
    else {
      // effective band must at least cover the length difference or no
      // monotone path exists
      val w = math.max(band, math.abs(n - m)) + 1
      val inf = Long.MaxValue / 4
      var prev = Array.fill(m + 1)(inf)
      var cur = Array.fill(m + 1)(inf)
      prev(0) = 0L
      for (i <- 1 to n) {
        java.util.Arrays.fill(cur, inf)
        val lo = math.max(1, i - w); val hi = math.min(m, i + w)
        for (j <- lo to hi) {
          val c = math.abs(xs(i - 1) - ys(j - 1))
          cur(j) = c + math.min(math.min(prev(j), cur(j - 1)), prev(j - 1))
        }
        val t = prev; prev = cur; cur = t
      }
      val d6 = prev(m)
      val steps = math.max(n, m).toLong // path length lower bound
      (n, m, math.rint(d6.toDouble / 1e6 * 1e6) / 1e6,
        math.rint(d6.toDouble / 1e6 / steps * 1e6) / 1e6, steps)
    }
    val spark = events.sparkSession
    import spark.implicits._
    Seq((out._1.toLong, out._2.toLong, out._3, out._4))
      .toDF("n_a", "n_b", "dtw", "dtw_per_step")
  }

  /** Ljung–Box portmanteau test on the hourly series — "is there ANY
    * autocorrelation in the first `maxLag` lags at all", the one-number
    * white-noise gate run before (and on the residuals after) any
    * forecasting model: Q = n(n+2)·Σₖ ρₖ²/(n−k), χ²(maxLag) under the
    * null. The ρₖ are [[crossCorrelation]]'s distributed per-lag
    * correlations (rounded 6dp — both engines square identical
    * doubles); n is the hour count of the calendar-bounded series; the
    * Q assembly is one maxLag-row rollup. */
  def ljungBox(events: DataFrame, eventType: String = "click",
               maxLag: Int = 12): DataFrame = {
    val ac = crossCorrelation(events, eventType, eventType, maxLag)
      .filter(col("lag") >= 1 && col("xcorr").isNotNull)
    val hours = events.filter(col("event_type") === eventType)
      .select(hourKey.as("hr"))
      .distinct().agg(count(lit(1)).as("n"))
    ac.crossJoin(broadcast(hours))
      .agg(max("n").as("n"), count(lit(1)).as("maxlag"),
        sum(col("xcorr") * col("xcorr") / (col("n") - col("lag")))
          .as("s"))
      .select(col("n"), col("maxlag"),
        round(col("n").cast("double") * (col("n") + 2.0) * col("s"), 4)
          .as("q_stat"))
  }

  /** Forecast BACKTEST over the hourly series — the evaluation half a
    * forecasting family is incomplete without (ts_holt/ts_hw fit; this
    * says how well anything fits): hold out the last 1−`trainFrac` of
    * hours and score the three classical baselines every real forecast
    * must beat (M-competition discipline): NAIVE (last train level),
    * DRIFT (last level + h·average train slope), SEASONAL-NAIVE (the
    * value `season` hours earlier — one-step seasonal, the lag riding
    * the SAME ordered window that numbers the series; pre-season rows
    * fall back to naive). Reports per-method MAE and sMAPE over the
    * holdout.
    *
    * Scale shape: the corpus collapses to the calendar-bounded hourly
    * frame in one partial-agg pass (means rounded 6dp — both engines
    * score identical series); everything after — ordered window,
    * train-edge stats via min_by/max_by, a 3-struct explode, the final
    * per-method rollup — runs on that aggregate frame (documented
    * single-partition window, never over raw data). Predictions are
    * arithmetic on the rounded series; only the final MAE/sMAPE means
    * are floats (round 6). */
  def backtestBaselines(events: DataFrame, eventType: String = "click",
                        trainFrac: Double = 0.8,
                        season: Int = 24): DataFrame = {
    val hourly = hourlyMeans(events, eventType)
    val w = Window.orderBy("hr")
    val seq = hourly
      .withColumn("rn", row_number().over(w))
      .withColumn("lag_s", lag("v", season).over(w))
    val n = seq.agg(count(lit(1)).as("n_total"))
    val withN = seq.crossJoin(broadcast(n))
      .withColumn("ptrain",
        ceil(lit(trainFrac) * col("n_total")).cast("long"))
    val trainStats = withN.filter(col("rn") <= col("ptrain"))
      .agg(min_by(col("v"), col("rn")).as("v_first"),
        max_by(col("v"), col("rn")).as("v_last"),
        max(col("rn")).as("p"))
    val hold = withN.filter(col("rn") > col("ptrain"))
      .crossJoin(broadcast(trainStats))
      .withColumn("h", (col("rn") - col("ptrain")).cast("double"))
      .withColumn("preds", explode(array(
        struct(lit("naive").as("method"), col("v_last").as("pred")),
        struct(lit("drift").as("method"),
          (col("v_last") + col("h") * (col("v_last") - col("v_first")) /
            (col("p") - lit(1.0))).as("pred")),
        struct(lit("snaive").as("method"),
          coalesce(col("lag_s"), col("v_last")).as("pred")))))
      .select(col("v"), col("preds.method").as("method"),
        col("preds.pred").as("pred"))
    // MAE/sMAPE via nano-quantized exact sums (r13, the burrows class:
    // round6 of a float mean over e6-grid naive/snaive errors reaches
    // the half-case whenever the holdout count divides twice the error
    // sum) — each term quantizes to an exact nano-unit long BEFORE the
    // order-independent sum, one half-up division closes to e6; the
    // DuckDB twin spells the same arithmetic
    hold
      .withColumn("t", floor(abs(col("pred") - col("v")) * 1e9 + 0.5)
        .cast("long"))
      .withColumn("ts", floor(lit(2.0) * abs(col("pred") - col("v")) /
        nullif(abs(col("pred")) + abs(col("v")), lit(0.0)) * 1e9 + 0.5)
        .cast("long"))
      .groupBy("method")
      .agg(count(lit(1)).as("n"), sum("t").as("st"),
        sum("ts").as("sts"), count("ts").as("ks"))
      .select(col("method"), col("n"),
        (expr("(2 * st + n * 1000) div (2 * n * 1000)").cast("double") /
          1e6).as("mae"),
        (expr("(2 * sts + ks * 1000) div (2 * nullif(ks, 0) * 1000)")
          .cast("double") / 1e6).as("smape"))
  }

  /** AR(1) MEAN-REVERSION HALF-LIFE of the daily series — "how long
    * does a shock take to decay halfway back": fit vₜ = α + ρ·vₜ₋₁ by
    * OLS on consecutive-day pairs, halflife = ln2 / (−ln ρ) for
    * 0 < ρ < 1 (null outside — a random-walk or oscillating series has
    * no mean-reversion half-life to report). The Ornstein–Uhlenbeck
    * discretization every pairs-trading / capacity-planning rule of
    * thumb uses; complements ts_variance_ratio (which DETECTS
    * mean-reversion; this QUANTIFIES its speed).
    *
    * Engine-exact: daily totals are 1e4-quantized integers; the OLS
    * sufficient sums Σx Σy Σxy Σx² run in decimal(38,0) (Σxy of
    * 1e9-scale cents² exceeds int64 — same discipline as st_ols2's
    * decimal Cramer), so ρ is one double division of exact integers.
    * One rollup to the days-sized frame, one lag join, 1-row out. */
  def ar1HalfLife(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events.filter(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 10000).cast("long")).as("v"))
    val pairs = daily
      .join(daily.select(date_add(col("day"), 1).as("day"),
        col("v").as("x")), Seq("day"))
      .select(col("x"), col("v").as("y"))
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum((col("x").cast(dec) * col("y").cast(dec))).as("sxy"),
      sum((col("x").cast(dec) * col("x").cast(dec))).as("sxx"))
    val n = col("n").cast("double")
    val rho = (n * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
      (n * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double"))
    m.select(col("n").as("n_pairs"), round(rho, 6).as("rho"),
      when(rho > 0 && rho < 1,
        round(lit(0.6931471805599453) / -log(rho), 4))
        .as("halflife_days"))
  }

  /** AUGMENTED DICKEY–FULLER unit-root test (constant, one
    * augmentation lag) on the daily series — THE stationarity gate in
    * front of everything downstream that assumes mean-reversion
    * ([[ar1HalfLife]] REPORTS a half-life whenever 0<ρ<1; ADF asks
    * whether the unit root ρ=1 can even be rejected — quoting a
    * half-life for a random walk is the classic forecasting foot-gun
    * this test exists to stop): Δvₜ = α + β·vₜ₋₁ + γ·Δvₜ₋₁ + εₜ,
    * ADF t = β/se(β) (compare to the Dickey–Fuller τ_μ table, ~−2.86
    * at 5%; the t column is NOT standard-normal, documented).
    *
    * Series contract: day-ordered OBSERVATION sequence (gap days
    * splice, documented — the [[turningPoints]] convention). Exactness:
    * daily totals are 1e4-quantized longs; both regressors and the
    * response live on that one scale, so β, γ and the t-stat are
    * scale-free; the 10 sufficient cross-moments accumulate in
    * decimal(38,0) (Σx² of 1e10-scale totals exceeds int64 — the
    * st_ols2 discipline) and the 3×3 Cramer solve + se(β) =
    * √(s²·(nΣz²−(Σz)²)/det) is one identical double expression tree
    * on both engines. One rollup shuffle to the days-sized frame, two
    * lags over one calendar-bounded window, 1-row out. */
  def adfTest(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events.filter(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 10000).cast("long")).as("v"))
    val w = Window.orderBy("day")
    val pts = daily
      .withColumn("l1", lag("v", 1).over(w))
      .withColumn("l2", lag("v", 2).over(w))
      .filter(col("l2").isNotNull)
      .select((col("v") - col("l1")).cast(dec).as("yy"),
        col("l1").cast(dec).as("a"),
        (col("l1") - col("l2")).cast(dec).as("b"))
    import Stats.Ols3._
    val seB = sqrt(sse / (n - 3.0) * (n * sbb - sb * sb) / det)
    Stats.Ols3.sums(pts).select(col("n"),
      round(b1, 6).as("beta"), round(b2, 6).as("gamma"),
      round(b1 / nullif(seB, lit(0.0)), 4).as("adf_t"))
  }

  /** KPSS level-stationarity test on the daily series — [[adfTest]]'s
    * REVERSED-null twin (ADF's null is a unit root, KPSS's null is
    * stationarity; run BOTH — agreement is evidence, disagreement
    * means the series is too short to decide, and only the pair
    * catches that): η = (1/n²)·ΣSₜ²/σ̂² over partial sums of the
    * demeaned series, long-run variance by the Bartlett kernel at
    * fixed lag 4 (weights 1−j/5 — documented contract; compare η to
    * the 5% critical value 0.463 of KPSS 1992 Table 1).
    *
    * EXACT rational arithmetic throughout: with 1e4-quantized daily
    * longs v, the scaled residual eⱼ = n·vⱼ−Σv and scaled partial sum
    * Snₜ = n·cumvₜ−t·Σv are exact longs on any partitioning; ΣSn²,
    * Σe², and the four lag-covariances accumulate in decimal(38,0),
    * and η = ΣSn²/(n·G) (the n powers cancel: ΣS² = ΣSn²/n²,
    * σ̂² = G/n³) is ONE double division. One rollup shuffle, one
    * calendar-bounded day-order window pass (cumsum + 4 lags), 1-row
    * out. */
  def kpssTest(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events.filter(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 10000).cast("long")).as("v"))
    val m = daily.agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val w = Window.orderBy("day")
    val pts = daily.crossJoin(broadcast(m))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cv",
        sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ej", col("n") * col("v") - col("sv"))
      .withColumn("sn", col("n") * col("cv") - col("i") * col("sv"))
      .withColumn("e1", lag("ej", 1).over(w))
      .withColumn("e2", lag("ej", 2).over(w))
      .withColumn("e3", lag("ej", 3).over(w))
      .withColumn("e4", lag("ej", 4).over(w))
    val agg = pts.agg(max("n").as("n"),
      sum(col("sn").cast(dec) * col("sn").cast(dec)).as("ssn2"),
      sum(col("ej").cast(dec) * col("ej").cast(dec)).as("g0"),
      sum(col("ej").cast(dec) * col("e1").cast(dec)).as("g1"),
      sum(col("ej").cast(dec) * col("e2").cast(dec)).as("g2"),
      sum(col("ej").cast(dec) * col("e3").cast(dec)).as("g3"),
      sum(col("ej").cast(dec) * col("e4").cast(dec)).as("g4"))
    val g = col("g0").cast("double") + lit(2.0) *
      (lit(0.8) * col("g1").cast("double") +
        lit(0.6) * col("g2").cast("double") +
        lit(0.4) * col("g3").cast("double") +
        lit(0.2) * col("g4").cast("double"))
    agg.select(col("n"),
      round(col("ssn2").cast("double") /
        nullif(col("n").cast("double") * g, lit(0.0)), 6)
        .as("kpss_eta"))
  }

  /** TURNING-POINT TEST on the daily series — the cheapest "is this
    * series random noise" gate: count interior days that are a strict
    * local max or min; under iid the expected count is 2(n−2)/3 with
    * variance (16n−29)/90, z = (T−E)/√V. |z| large + T < E = smooth
    * trends/cycles (forecasting has something to bite on); T ≈ E = the
    * series is noise and every model downstream is decoration. Exact
    * integer comparisons on the 1e4-quantized totals (ties break
    * NEITHER way — a plateau day is not a turning point, documented),
    * one lag/lead window over the days-sized frame, 1-row formula. */
  def turningPoints(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.filter(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 10000).cast("long")).as("v"))
    val w = Window.orderBy("day")
    val t = daily
      .withColumn("pv", lag("v", 1).over(w))
      .withColumn("nv", lead("v", 1).over(w))
      .filter(col("pv").isNotNull && col("nv").isNotNull)
      .agg(count(lit(1)).as("n_interior"),
        sum(when((col("v") > col("pv") && col("v") > col("nv")) ||
                 (col("v") < col("pv") && col("v") < col("nv")), 1L)
          .otherwise(0L)).as("t"))
    val n = (col("n_interior") + 2).cast("double")
    val e = lit(2.0) * (n - 2.0) / 3.0
    val v = (lit(16.0) * n - 29.0) / 90.0
    t.select((col("n_interior") + 2).as("n_days"), col("t")
        .as("n_turning"),
      round(e, 4).as("expected"),
      round((col("t").cast("double") - e) / sqrt(v), 4).as("z"))
  }

  /** HURST EXPONENT by rescaled-range (R/S) analysis over the hourly
    * series — long-range dependence in one number: H ≈ 0.5 random walk,
    * H > 0.5 persistent (trends feed themselves — burst capacity must
    * assume runs), H < 0.5 anti-persistent. Hours rank into contiguous
    * index order (gaps close up — documented, the standard practical
    * treatment); for each power-of-two block size the full blocks score
    * log₂(R/S) (R = range of the cumulative deviation from the block
    * mean, S = population σ), and H is the OLS slope of the per-size
    * means against log₂(size) — the x-axis is EXACT integers (5, 6, 7),
    * never a float log of the size.
    *
    * Engine-stability: hourly totals are 1e4-quantized longs, the
    * within-block cumulative sum is an ordered window over exact longs,
    * S² = S₂/B − (S₁/B)² from decimal power sums — so R, S and R/S are
    * deterministic doubles; each block's log₂(R/S) quantizes to 1e6
    * BEFORE the cross-block mean. Three passes over the calendar-
    * bounded hourly frame (one per size), report-sized everything. */
  def hurstRS(events: DataFrame, eventType: String = "click",
              blockSizes: Seq[Int] = Seq(32, 64, 128)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hourly = Resample.hourly(events, eventType)(
      sum(round(col("value") * 10000).cast("long")).as("v"))
      .withColumn("i",
        row_number().over(Window.orderBy("hr")) - 1)
      .localCheckpoint(true)
    val perSize = blockSizes.map { bs =>
      val wb = Window.partitionBy("b").orderBy("i")
      val cum = hourly
        .withColumn("b", floor(col("i") / bs))
        .withColumn("j", row_number().over(wb))
        .withColumn("cs",
          sum("v").over(wb.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("s1",
          sum("v").over(Window.partitionBy("b")))
        .withColumn("cumdev",
          col("cs").cast("double") -
            col("j") * (col("s1").cast("double") / bs))
      val blocks = cum.groupBy("b")
        .agg(count(lit(1)).as("nb"), max("s1").as("s1"),
          sum(col("v").cast(dec) * col("v").cast(dec)).as("s2"),
          max("cumdev").as("cmax"), min("cumdev").as("cmin"))
        .filter(col("nb") === bs)
        .withColumn("sd", sqrt(col("s2").cast("double") / bs -
          (col("s1").cast("double") / bs) *
            (col("s1").cast("double") / bs)))
        .filter(col("sd") > 0)
        .withColumn("yq",
          round(log((col("cmax") - col("cmin")) / col("sd")) /
            lit(0.6931471805599453) * 1000000).cast("long"))
      blocks.agg(count(lit(1)).as("n_blocks"), sum("yq").as("ys"))
        .select(lit(bs).as("block_size"),
          lit((math.log(bs) / math.log(2)).round.toInt).as("x"),
          col("n_blocks"),
          (col("ys").cast("double") / (col("n_blocks") * 1000000.0))
            .as("y"))
    }.reduce(_ unionByName _)
    val reg = perSize.agg(count(lit(1)).as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val kk = col("k").cast("double")
    val hurst = (kk * col("sxy") - col("sx") * col("sy")) /
      (kk * col("sxx") - (col("sx") * col("sx")).cast("double"))
    perSize.crossJoin(broadcast(reg.select(round(hurst, 4).as("hurst"))))
      .select(col("block_size"), col("n_blocks"),
        round(col("y"), 6).as("avg_log2_rs"), col("hurst"))
  }

  /** HAAR multi-resolution ENERGY decomposition of the hourly series —
    * "at which time scale does the variance live?" (hour-to-hour
    * jitter vs day-scale swings), the wavelet companion to
    * ts_periodogram's frequency view and ts_strength's one-number
    * seasonal split. Level k's detail coefficients are differences of
    * adjacent level-(k−1) SMOOTH sums, so level 1 captures 2-hour
    * oscillation energy, level 5 the 32-hour band.
    *
    * Exactness (the [oracle] contract): hourly means quantize to
    * micro-unit LONGS; every smooth sum and detail difference is
    * integer; squared details sum in decimal(38,0); the only divisions
    * are by 2^k (exact in doubles) and the 10¹² unit rescale — so any
    * engine and any partitioning produces identical numbers, and the
    * DuckDB twin just unrolls the k levels. Unpaired tails drop at
    * each level (documented truncation — energies are of the dyadic
    * prefix). Scale shape: one partial-agg pass to the time-bounded
    * hourly frame, then k tiny (halving) groupBys; the per-level
    * d²-sum is a 1-row aggregate. */
  def haarEnergy(events: DataFrame, eventType: String = "click",
                 levels: Int = 5): DataFrame = {
    require(levels >= 1 && levels <= 12, "levels 1..12")
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v6"))
    var cur = hourly
      .withColumn("i",
        (row_number().over(Window.orderBy("hr")) - 1).cast("long"))
      .select(col("i"), col("v6").as("s"))
      .localCheckpoint(true)
    val rows = (1 to levels).map { k =>
      val full = cur
        .select((col("i") / 2).cast("long").as("j"),
          (col("i") % 2).as("o"), col("s"))
        .groupBy("j")
        .agg(max(when(col("o") === 0, col("s"))).as("a"),
          max(when(col("o") === 1, col("s"))).as("b"))
        .filter(col("b").isNotNull && col("a").isNotNull)
        .localCheckpoint(true)
      val agg = full.agg(count(lit(1)).as("np"),
        sum((col("a") - col("b")).cast("decimal(38,0)") *
          (col("a") - col("b"))).as("d2")).head()
      val np = agg.getAs[Long]("np")
      val d2 = Option(agg.getAs[java.math.BigDecimal]("d2"))
        .map(_.doubleValue()).getOrElse(0.0)
      cur = full.select(col("j").as("i"), (col("a") + col("b")).as("s"))
        .localCheckpoint(true)
      (k, np, d2 / (1L << k) / 1e12)
    }
    val total = rows.map(_._3).sum
    import events.sparkSession.implicits._
    rows.map { case (k, np, e) =>
      (k, np, math.rint(e * 1e6) / 1e6,
        if (total == 0.0) 0.0 else math.rint(e / total * 1e6) / 1e6)
    }.toDF("level", "n_pairs", "energy", "share")
  }

  /** MATRIX PROFILE over the per-type daily series (Yeh et al., UCR —
    * the all-subsequence nearest-neighbor distance that powers motif
    * discovery and discord/anomaly detection in one structure): for
    * every length-m window starting at day i, the minimum distance to
    * any other window at least `excl` days away (the exclusion zone
    * keeps a window from "matching" its own overlap), plus WHICH window
    * (the motif/discord witness). Low profile = repeated motif; the
    * profile's argmax is the series' most anomalous week — the discord
    * ts_anomaly's pointwise z-scores can't see.
    *
    * Distances are UNNORMALIZED squared Euclidean on micro-quantized
    * longs — EXACT integers end to end, no float order sensitivity
    * (z-normalized variants divide by per-window σ; the raw-distance
    * profile is the standard choice when amplitude matters, and the
    * one that stays in integer algebra). Shape: elements explode m
    * positions, pairs come from an EQUI-join on (type, position-k) —
    * never a windowed cross join — and the whole frame is
    * calendar-bounded (days × m elements, days² pairs per type, data
    * only enters through the daily partial-agg). A window forms only
    * when all m days exist on BOTH sides (the nk = m guard — gap days
    * silently truncating a distance would corrupt the profile).
    * Per-pair argmin ties break to the smaller day via min(struct). */
  def matrixProfile(events: DataFrame, m: Int = 7, excl: Int = 4)
      : DataFrame = {
    val daily = events.groupBy(col("event_type"),
        expr("unix_date(cast(ts as date))").cast("long").as("d"))
      .agg(Exact.avgValueMicros.as("v"))
    val el = daily
      .select(col("event_type"),
        explode(array((0 until m).map(lit): _*)).as("k"),
        col("d"), col("v"))
      .select(col("event_type"), col("k"),
        (col("d") - col("k")).as("i"), col("v"))
    val b = el.select(col("event_type").as("et2"), col("k").as("k2"),
      col("i").as("j"), col("v").as("vb"))
    el.join(b, col("event_type") === col("et2") &&
        col("k") === col("k2") && abs(col("i") - col("j")) >= excl)
      .groupBy(col("event_type"), col("i"), col("j"))
      .agg(count(lit(1)).as("nk"),
        sum((col("v") - col("vb")) * (col("v") - col("vb"))).as("d2"))
      .filter(col("nk") === m)
      .groupBy(col("event_type"), col("i"))
      .agg(min(struct(col("d2"), col("j"))).as("mn"))
      .select(col("event_type"), col("i").as("start_day"),
        col("mn.j").as("nn_day"), col("mn.d2").as("dist2"))
  }

  /** Binned TRANSFER ENTROPY between the hourly click/view series —
    * the information-theoretic, DIRECTIONAL sibling of [[grangerTest]]
    * (Granger asks "do lags of Y improve a LINEAR forecast of X"; TE
    * asks the model-free version: how many nats of uncertainty about
    * X_{t+1} does knowing Y_t remove once X_t is known — nonzero in
    * either direction independently, and immune to nonlinearity):
    * TE(Y→X) = Σ p(x⁺,x,y)·ln[ p(x⁺|x,y) / p(x⁺|x) ], estimated on
    * the mean-binarized series over CONSECUTIVE-hour steps only (a
    * gap contributes no transition — both engines drop it by the same
    * hr+1 join key).
    *
    * Engine-exactness: hourly means are the exact micro-unit longs
    * (graft.operators.Exact), binarization compares n·x > Σx in exact
    * integer arithmetic (no mean double), all probabilities are
    * ratios of exact triple counts, and each of the ≤8 cell terms
    * quantizes to integer micro-nats (floor convention) before the
    * unordered sum — the g-test/ml_nb log discipline. One window pass
    * + three cell-bounded rollups per direction. */
  def transferEntropy(events: DataFrame, typeX: String = "click",
                      typeY: String = "view"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hourly(t: String, alias: String) =
      Resample.hourly(events, t)(Exact.avgValueMicros.as(alias))
    val xy = hourly(typeX, "x").join(hourly(typeY, "y"), "hr")
    val w = Window.orderBy("hr")
    val stepped = xy
      .select(col("hr"), col("x"), col("y"),
        lead("hr", 1).over(w).as("hr1"),
        lead("x", 1).over(w).as("x1"),
        lead("y", 1).over(w).as("y1"))
      .filter(col("hr1") === col("hr") + 1)
    val tot = stepped.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"))
    val binned = stepped.crossJoin(broadcast(tot))
      .select(col("n"),
        (col("x") * col("n") > col("sx")).cast("int").as("xb"),
        (col("y") * col("n") > col("sy")).cast("int").as("yb"),
        (col("x1") * col("n") > col("sx")).cast("int").as("x1b"),
        (col("y1") * col("n") > col("sy")).cast("int").as("y1b"))
      .localCheckpoint(true) // step-count-sized; feeds both directions
    def te(next: String, self: String, driver: String, out: String) = {
      val cells = binned
        .groupBy(col(next).as("a1"), col(self).as("a0"),
          col(driver).as("d0"))
        .agg(count(lit(1)).as("c"), max("n").as("n"))
      val cSelf = cells.groupBy("a0").agg(sum("c").as("cx"))
      val cPair = cells.groupBy("a0", "d0").agg(sum("c").as("cxy"))
      val cStep = cells.groupBy("a1", "a0").agg(sum("c").as("cxx1"))
      cells.join(cSelf, Seq("a0")).join(cPair, Seq("a0", "d0"))
        .join(cStep, Seq("a1", "a0"))
        .select(col("n"),
          floor(col("c") * log(col("c").cast("double") * col("cx") /
            (col("cxy").cast("double") * col("cxx1"))) * 1e6 + 0.5)
            .cast("long").as("t"))
        .agg(max("n").as("n_steps"),
          round(sum("t").cast("double") / 1e6 /
            max("n").cast("double"), 6).as(out))
    }
    te("x1b", "xb", "yb", "te_y_to_x")
      .crossJoin(broadcast(te("y1b", "yb", "xb", "te_x_to_y")
        .drop("n_steps")))
  }


  /** 2-STATE HMM VITERBI decode of the mean-binarized hourly series —
    * the REGIME SEGMENTATION the changepoint family can't give
    * (ts_binseg/ts_cusum find a FEW change points; an HMM decodes
    * EVERY hour into a latent calm/active regime under an explicit
    * noise model, tolerating flicker the hard thresholding of the
    * binarized series itself cannot): fixed documented parameters
    * (sticky transitions stay=0.9, emissions 0.8 aligned / 0.2
    * crossed, uniform prior), maximum-a-posteriori state PATH by the
    * Viterbi dynamic program.
    *
    * ENTIRELY in exact integer micro-nat log-space: the five log
    * parameters are hardcoded integer literals (floor(ln(p)·10⁶+0.5),
    * spelled identically in the SQL twin — libm ln() is not
    * bit-portable, literals are), so every δ update is integer adds
    * and max — the DP and its backtrack are bit-identical on any
    * engine/partitioning. The series is the calendar-bounded hourly
    * frame (the DTW/sesGrid scalar class — ONE sorted group, state
    * O(1) forward + O(T) backtrack); the oracle replays forward AND
    * backtrack as two recursive CTEs over the same integers. */
  def hmmViterbi(events: DataFrame, eventType: String = "click")
      : DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val LnStay = -105361L    // floor(ln(0.9)*1e6 + 0.5)
    val LnSwitch = -2302585L // ln(0.1)
    val LnEmitHit = -223144L // ln(0.8)
    val LnEmitMiss = -1609438L // ln(0.2)
    val LnPrior = -693147L   // ln(0.5)
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val tot = hourly.agg(count(lit(1)).as("n"), sum("v").as("s"))
    hourly.crossJoin(broadcast(tot))
      .select(col("hr"), (col("v") * col("n") > col("s")).as("o"))
      .as[(Long, Boolean)]
      .groupByKey(_ => 0)
      .flatMapSortedGroups($"hr") { (_, it) =>
        val rows = it.toArray // calendar-bounded (documented contract)
        val n = rows.length
        def emit(state: Int, obs: Boolean): Long = {
          val hit = (state == 1) == obs
          if (hit) LnEmitHit else LnEmitMiss
        }
        val d0 = new Array[Long](n); val d1 = new Array[Long](n)
        val p0 = new Array[Int](n); val p1 = new Array[Int](n)
        var t = 0
        while (t < n) {
          val o = rows(t)._2
          if (t == 0) {
            d0(0) = LnPrior + emit(0, o); d1(0) = LnPrior + emit(1, o)
            p0(0) = 0; p1(0) = 1
          } else {
            val stay0 = d0(t - 1) + LnStay
            val sw0 = d1(t - 1) + LnSwitch
            // ties break to the LOWER predecessor state (>=), the
            // convention the SQL twin mirrors
            if (stay0 >= sw0) { d0(t) = stay0 + emit(0, o); p0(t) = 0 }
            else { d0(t) = sw0 + emit(0, o); p0(t) = 1 }
            val sw1 = d0(t - 1) + LnSwitch
            val stay1 = d1(t - 1) + LnStay
            if (sw1 >= stay1) { d1(t) = sw1 + emit(1, o); p1(t) = 0 }
            else { d1(t) = stay1 + emit(1, o); p1(t) = 1 }
          }
          t += 1
        }
        val path = new Array[Int](n)
        path(n - 1) = if (d0(n - 1) >= d1(n - 1)) 0 else 1
        var k = n - 2
        while (k >= 0) {
          path(k) = if (path(k + 1) == 0) p0(k + 1) else p1(k + 1)
          k -= 1
        }
        rows.indices.iterator.map { i =>
          (rows(i)._1, rows(i)._2, path(i))
        }
      }
      .toDF("hr", "obs_high", "state")
  }

  /** AVERAGE MUTUAL INFORMATION ladder of the hourly series — the
    * nonlinear autocorrelation ([[acf]] measures LINEAR lag memory;
    * AMI measures ANY lag dependence, and its first minimum is the
    * standard embedding-delay pick feeding the nonlinear family:
    * ts_sampen/ts_recurrence/ts_dtw all assume a delay): at each lag
    * ℓ, MI between the quartile-binned series and its ℓ-hour future,
    * over hour pairs where BOTH ends exist (gap-aware by the hr+ℓ
    * join key).
    *
    * Exact path: hourly means are exact micro-longs, quartile bins
    * come from integer rank arithmetic ((r−1)·4 div n — engine-
    * identical), pair/marginal counts are exact, and each of the ≤16
    * cell terms quantizes to integer micro-nats (floor convention)
    * before the unordered sum (the transferEntropy discipline). */
  def amiLadder(events: DataFrame, eventType: String = "click",
                lags: Seq[Int] = Seq(1, 2, 3, 4, 6, 12)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import events.sparkSession.implicits._
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val n0 = hourly.agg(count(lit(1)).as("n0"))
    val binned = hourly.crossJoin(broadcast(n0))
      .withColumn("r",
        row_number().over(Window.orderBy("v", "hr")).cast("long"))
      .select(col("hr"), expr("(r - 1) * 4 div n0").as("b"))
      .localCheckpoint(true)
    val lagged = binned.crossJoin(broadcast(lags.map(_.toLong).toDF("lag")))
      .select(col("lag"), (col("hr") + col("lag")).as("hr"),
        col("b").as("b0"))
      .join(binned.select(col("hr"), col("b").as("b1")), Seq("hr"))
    val cells = lagged.groupBy("lag", "b0", "b1")
      .agg(count(lit(1)).as("c"))
    val tot = cells.groupBy("lag").agg(sum("c").as("np"))
    val m0 = cells.groupBy("lag", "b0").agg(sum("c").as("c0"))
    val m1 = cells.groupBy("lag", "b1").agg(sum("c").as("c1"))
    cells.join(m0, Seq("lag", "b0")).join(m1, Seq("lag", "b1"))
      .join(tot, Seq("lag"))
      .select(col("lag"), col("np"),
        floor(col("c") * log(col("c").cast("double") * col("np") /
          (col("c0").cast("double") * col("c1"))) * 1e6 + 0.5)
          .cast("long").as("t"))
      .groupBy("lag")
      .agg(max("np").as("n_pairs"),
        round(sum("t").cast("double") / 1e6 /
          max("np").cast("double"), 6).as("ami"))
      .orderBy("lag")
  }

  /** CROSTON's method over the daily purchase demand — THE forecast
    * for INTERMITTENT demand ([[sesGrid]]'s SES on the raw series
    * systematically lags a sparse one toward zero; Croston smooths
    * demand SIZE and demand INTERVAL separately and forecasts their
    * ratio — the standard since 1972 for spare-parts/slow-movers, and
    * the forecasting half of ts_intermittency's classification):
    * on each demand arrival, z ← z+α(s−z), p ← p+α(g−p) with α = 0.2,
    * g the day-gap since the previous arrival (z₁ = s₁, p₁ = 1 —
    * documented init), per-day demand rate forecast = z/p.
    *
    * Demand sizes are exact integer cents; the two recurrences run in
    * doubles with identical operation order on both engines (the
    * sesGrid replayable-recurrence discipline — the oracle is one
    * recursive CTE over the arrival frame). One sorted pass over the
    * calendar-bounded arrival frame. */
  def croston(events: DataFrame, eventType: String = "purchase",
              alpha: Double = 0.2): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events.filter(col("event_type") === eventType)
      .groupBy(expr("unix_date(cast(ts as date))").cast("long").as("d"))
      .agg(sum(Exact.cents(col("value"))).as("s"))
    daily.as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapSortedGroups($"d") { (_, it) =>
        var z = Double.NaN
        var p = 1.0
        var prev = Long.MinValue
        it.map { case (d, sCents) =>
          val sVal = sCents / 100.0
          if (z.isNaN) { z = sVal; p = 1.0 }
          else {
            val g = (d - prev).toDouble
            z = z + alpha * (sVal - z)
            p = p + alpha * (g - p)
          }
          prev = d
          // floor(x·1e6 + 0.5): the Exact.scala half-up convention,
          // spelled identically in the recursive-CTE twin
          def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
          (d, sVal, q6(z), q6(p), q6(z / p))
        }
      }
      .toDF("day", "demand", "z", "p", "forecast")
  }

  /** LOMB–SCARGLE periodogram of the (GAPPY) daily purchase series —
    * the periodogram for UNEVENLY sampled data ([[periodogram]]'s DFT
    * assumes a dense regular grid; real event feeds have dark days,
    * and naively zero-filling them manufactures spectral leakage at
    * exactly the periods you care about): at each candidate period P,
    * P_LS = ½[(Σd·cosθ)²/Σcos²θ + (Σd·sinθ)²/Σsin²θ] with the Scargle
    * phase correction τ = atan2(Σsin2ωt, Σcos2ωt)/2ω that makes the
    * estimate invariant to time origin, θ = ω(t−τ), d = y − ȳ over
    * the OBSERVED days only. Normalized by the series variance (the
    * classical [0, (n−1)/2] scaling).
    *
    * Shape: the day frame is calendar-bounded; candidate periods are
    * a 5-row literal broadcast; two grouped aggregates over the
    * (day × period) frame (one for τ, one for the powers) — the
    * corpus is scanned once for the daily rollup. Daily means ride
    * the exact micro-unit convention (graft.operators.Exact). */
  def lombScargle(events: DataFrame, eventType: String = "purchase",
                  periods: Seq[Int] = Seq(3, 5, 7, 14, 30)): DataFrame = {
    import events.sparkSession.implicits._
    val daily = events.filter(col("event_type") === eventType)
      .groupBy(expr("unix_date(cast(ts as date))").cast("long").as("t"))
      .agg(Exact.avgValueMicros.as("v"))
      .withColumn("y", col("v").cast("double") / 1e6)
    val tot = daily.agg(count(lit(1)).as("n"), avg("y").as("ybar"),
      sum(col("y") * col("y")).as("syy"), sum("y").as("sy"))
    val per = broadcast(periods.toDF("period"))
      .withColumn("w", lit(2.0 * math.Pi) / col("period"))
    val dp = daily.crossJoin(per)
    val tau = dp.groupBy("period", "w")
      .agg(sum(sin(col("w") * 2.0 * col("t"))).as("s2"),
        sum(cos(col("w") * 2.0 * col("t"))).as("c2"))
      .select(col("period"), col("w"),
        (atan2(col("s2"), col("c2")) / (col("w") * 2.0)).as("tau"))
    dp.join(broadcast(tau), Seq("period", "w"))
      .crossJoin(broadcast(tot))
      .withColumn("th", col("w") * (col("t") - col("tau")))
      .withColumn("d", col("y") - col("ybar"))
      .groupBy("period")
      .agg(max("n").as("n_days"),
        sum(col("d") * cos(col("th"))).as("dc"),
        sum(col("d") * sin(col("th"))).as("ds"),
        sum(cos(col("th")) * cos(col("th"))).as("cc"),
        sum(sin(col("th")) * sin(col("th"))).as("ss"),
        max(col("syy") - col("sy") * col("sy") / col("n")).as("ssd"))
      .select(col("period"), col("n_days"),
        round((col("dc") * col("dc") / col("cc") +
          col("ds") * col("ds") / col("ss")) /
          (lit(2.0) * col("ssd") / (col("n_days") - 1)), 6).as("power"))
      .orderBy("period")
  }

  /** DETRENDED FLUCTUATION ANALYSIS α of the hourly series —
    * [[hurstExponent]]'s modern sibling (R/S is biased by trends and
    * short records; DFA detrends INSIDE each window, which is why the
    * physiology/finance literature reports α, not H): integrate the
    * mean-centered series into a profile, split it into boxes of
    * m ∈ {4,8,16,32} hours, remove each box's OLS line, and fit the
    * log-log slope of the residual RMS F(m) — α ≈ 0.5 white,
    * 1.0 = 1/f, ≈1.5 Brownian.
    *
    * Engine-exactness: the profile is EXACT integer arithmetic
    * (n·Xₜ = Σ(n·vᵢ − S) — micro-unit longs, no cumulative float
    * drift), box membership and in-box positions are integer
    * row-number arithmetic, and each box's OLS residual uses the
    * closed form on ≤32 values whose sums Σnx, Σnx² and Σx·nx are
    * exact decimal(38,0) integers, each divided by n or n² once (a
    * double sum would follow the shuffle's merge order). F(m) sums the
    * per-box sse/c as a left fold over the boxes in order, the same
    * order on both engines. One window pass for the profile; the box
    * rollup is one grouped aggregate over the (hour × 4 box sizes)
    * frame; the α fit runs on a 4-row frame. */
  def dfaAlpha(events: DataFrame, eventType: String = "click",
               boxes: Seq[Int] = Seq(4, 8, 16, 32)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import events.sparkSession.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hourly =
      Resample.hourly(events, eventType)(Exact.avgValueMicros.as("v"))
    val tot = hourly.agg(count(lit(1)).as("n"), sum("v").as("s"))
    val w = Window.orderBy("hr")
    val prof = hourly.crossJoin(broadcast(tot))
      .select(row_number().over(w).cast("long").as("rn"), col("n"),
        sum(col("v") * col("n") - col("s")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)).as("nx"))
    val bx = prof.crossJoin(broadcast(boxes.toDF("m")))
      // integer box arithmetic (Spark's `/` on integral columns is a
      // DOUBLE divide — `div` keeps boxes and the full-box cutoff exact)
      .filter(expr("(rn - 1) div m") < expr("n div m"))
      .select(col("m"), expr("(rn - 1) div m").as("box"), col("n"),
        (((col("rn") - 1) % col("m")) + 1).as("x"),
        col("nx").cast(dec).as("nx"))
    val perBox = bx.groupBy("m", "box", "n")
      .agg(count(lit(1)).as("c"), sum("x").cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum("nx").as("su"), sum(col("nx") * col("nx")).as("suu"),
        sum(col("x").cast(dec) * col("nx")).as("sxu"))
      .select(col("m"), col("box"), col("c"), col("sx"), col("sxx"),
        (col("su").cast("double") / col("n")).as("sy"),
        (col("suu").cast("double") / (col("n") * col("n"))).as("syy"),
        (col("sxu").cast("double") / col("n")).as("sxy"))
      .select(col("m"), col("box"),
        ((col("syy") - col("sy") * col("sy") / col("c")) -
          pow(col("sxy") - col("sx") * col("sy") / col("c"), 2) /
            (col("sxx") - col("sx") * col("sx") / col("c"))).as("sse"),
        col("c"))
    val fm = perBox.groupBy("m")
      .agg(array_sort(collect_list(struct(col("box"),
        (col("sse") / col("c")).as("q")))).as("qs"))
      .select(col("m"), sqrt(
        aggregate(col("qs"), lit(0.0), (acc, b) => acc + b.getField("q")) /
          size(col("qs"))).as("f"))
      .withColumn("lx", log(col("m").cast("double")))
      .withColumn("ly", log(col("f")))
    val a = fm.agg(count(lit(1)).as("k"), sum("lx").as("sx"),
      sum("ly").as("sy"), sum(col("lx") * col("lx")).as("sxx"),
      sum(col("lx") * col("ly")).as("sxy"))
      .select(round((col("sxy") - col("sx") * col("sy") / col("k")) /
        (col("sxx") - col("sx") * col("sx") / col("k")), 6).as("alpha"))
    fm.select(col("m"), round(col("f"), 6).as("f_m"))
      .crossJoin(broadcast(a))
      .orderBy("m")
  }
}
