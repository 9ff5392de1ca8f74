package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's Lambda-architecture weather pipeline, re-expressed as
  * batch twins over `events` (the streaming twins live in
  * graft.streaming and share these Column expressions):
  *
  *  - alert classification (reference: work/spark_processor.py:30-38 when-chains)
  *  - batch-layer profiles   (reference: work/batch_profiling_enriched.py:20-27)
  *  - per-key records        (reference: work/batch_records.py:24-28)
  *  - anomaly join           (reference: work/anomaly_detector.py:37-42 μ±2σ)
  *  - sliding window agg     (reference: work/spark_windowed_aggregation.py:31-41)
  *
  * Scale notes: profiles are tiny (one row per day/key) → always broadcast
  * into the anomaly join, so the fact scan never shuffles. The sliding
  * window agg pre-aggregates per (bucket, type) map-side before the single
  * shuffle on the composite key.
  */
object Lambda {

  /** Multi-level alert banding: value < 100 → level_0, < 300 → level_1,
    * else level_2 (the reference's wind/heat alert chains). */
  def alertLevel(valueCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(valueCol < 100, "level_0")
      .when(valueCol < 300, "level_1")
      .otherwise("level_2")

  /** Alert classification + distribution per event type. The mean is
    * the exact [[Exact.avgValue4dp]] (integer cents, one half-up integer
    * division), so a group whose mean falls on a 4dp half rounds the same
    * in any row order; `round(avg(value), 4)` did not (seed 10:
    * 352.64125 came out as 352.6413 or 352.6412). */
  def alertClassify(events: DataFrame): DataFrame =
    events
      .withColumn("alert_level", alertLevel(col("value")))
      .groupBy("event_type", "alert_level")
      .agg(count(lit(1)).as("n"),
        (Exact.avgValue4dp.cast("double") / lit(1e4)).as("avg_value"))

  /** Batch layer: per-day per-type profiles (mean + stddev), the
    * reference's monthly seasonal profile at event-data granularity. */
  def dailyProfile(events: DataFrame): DataFrame =
    events
      .withColumn("day", dayofmonth(col("ts")))
      .groupBy("day", "event_type")
      .agg(
        (Exact.avgValueMicros.cast("double") / lit(1e6)).as("value_mean"),
        round(stddev_samp("value"), 6).as("value_std"),
        count(lit(1)).as("n"))

  /** Per-key extremes (the reference's climatic records per location). */
  def records(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        round(max("value"), 4).as("record_max"),
        round(min("value"), 4).as("record_min"),
        max(unix_micros(col("ts"))).as("last_seen_us"))

  /** Serving layer: join observations to their (day, type) profile and
    * keep μ±2σ outliers. Profile side is broadcast — at 100 TB the fact
    * scan stays shuffle-free.
    *
    * max_deviation rides EXACT INTEGER MICROS (r14, caught by the
    * seed-46 sf0.05 gate): the deviation |value − μ| is an e6-grid
    * rational (e2-grid value minus exact-micros mean), so
    * `round(max(·), 4)` reaches the .00005 half-case on ~1% of cells
    * per draw — seed 46 landed one (230.86125: DuckDB float-mult
    * round said 230.8613, Spark's BigDecimal half-up said 230.8612).
    * Cure is the Exact.scala discipline: per-row deviation in exact
    * long micros (|cents·10⁴ − mean_micros|), integer max, ONE
    * half-up integer division to the e4 output — both engines walk
    * identical longs. The μ±2σ FILTER stays float: σ is a sqrt
    * (irrational — never ON the e6 half grid), and both engines
    * compare the identical value_mean double against it. */
  def anomalies(events: DataFrame): DataFrame = {
    val profiles = events
      .withColumn("day", dayofmonth(col("ts")))
      .groupBy("day", "event_type")
      .agg(Exact.avgValueMicros.as("mean_micros"),
        round(stddev_samp("value"), 6).as("value_std"))
      .select(col("day").as("p_day"), col("event_type").as("p_type"),
        col("mean_micros"),
        (col("mean_micros").cast("double") / lit(1e6)).as("value_mean"),
        col("value_std"))
    events
      .withColumn("day", dayofmonth(col("ts")))
      .join(broadcast(profiles),
        col("day") === col("p_day") && col("event_type") === col("p_type"))
      .filter(abs(col("value") - col("value_mean")) > lit(2.0) * col("value_std"))
      .withColumn("dev_micros",
        abs(Exact.cents(col("value")) * lit(10000L) - col("mean_micros")))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_anomalies"),
        (expr("(2 * max(dev_micros) + 100) div 200").cast("double") / 1e4)
          .as("max_deviation"))
  }

  /** SERVING-LAYER RECONCILIATION — the query that makes a lambda
    * architecture one system instead of two: the nightly BATCH view
    * (authoritative full recompute up to `cutoffDay`) and the SPEED
    * view (incremental, possibly-partial counts from the cutoff day on)
    * merge on (day, type) with batch ALWAYS winning the overlap — the
    * cutoff day exists in both, and serving must hand out the recomputed
    * number, not the approximate one. Full-outer on the profile keys
    * (both sides are day×type-sized rollups, AQE broadcasts them — the
    * fact table never joins), `layer` column audits provenance.
    *
    * `speed` may be any same-schema frame; the contract query feeds it a
    * deliberately incomplete slice to PROVE preference matters. */
  def reconcile(batch: DataFrame, speed: DataFrame): DataFrame = {
    val b = batch.select(col("day"), col("event_type"),
      col("n").as("__bn"), col("value_mean").as("__bm"))
    val sp = speed.select(col("day"), col("event_type"),
      col("n").as("__sn"), col("value_mean").as("__sm"))
    b.join(sp, Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("__bn"), col("__sn")).as("n"),
        coalesce(col("__bm"), col("__sm")).as("value_mean"),
        when(col("__bn").isNotNull, "batch").otherwise("speed").as("layer"))
  }

  /** The two views the contract reconciles: batch = full profile of
    * days ≤ cutoff; speed = days ≥ cutoff over an INCOMPLETE slice
    * (even event_ids — simulating partial arrival), so the overlap day
    * disagrees and the merge must prefer batch. */
  def reconciledProfile(events: DataFrame, cutoffDay: Int = 20): DataFrame = {
    val keyed = events.withColumn("day", dayofmonth(col("ts")))
    def profile(df: DataFrame): DataFrame =
      df.groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), (Exact.avgValueMicros.cast("double") / lit(1e6)).as("value_mean"))
    reconcile(
      profile(keyed.filter(col("day") <= cutoffDay)),
      profile(keyed.filter(col("day") >= cutoffDay &&
        col("event_id") % 2 === 0)))
  }

  /** Sliding event-time window aggregation (width 6h, slide 3h): the
    * reference's 5min/1min windowed aggregates with conditional alert
    * counts. Batch twin of the Structured Streaming version — emits
    * window_start_us so the oracle can reproduce bucketing with integer
    * arithmetic. */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        // exact fixed-point mean: `value` carries 2 decimals, so means of
        // small groups land exactly on round-half boundaries where Spark
        // (BigDecimal HALF_UP) and other engines (scaled-FP rounding)
        // disagree. Integer cents summed exactly, then floor-divided to
        // 1e-4 units: order-independent and bit-identical everywhere.
        expr("sum(cast(round(value * 100) as bigint)) * 100 div count(*)")
          .as("avg_value_e4"),
        round(max("value"), 4).as("max_value"),
        count(when(alertLevel(col("value")) =!= "level_0", 1)).as("n_alerts"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("avg_value_e4"), col("max_value"),
        col("n_alerts"))
}
