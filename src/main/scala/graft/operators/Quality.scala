package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality operators for a 100 TB ingest pipeline: a constraint
  * violation report (the admission gate a lake runs on every batch
  * before it pollutes downstream training data) and distribution-drift
  * scoring between two corpus snapshots (the monitor that catches a
  * silently changed upstream). Reference anchor: the course's batch
  * layers ingest unchecked (work/batch_profiling_enriched.py trusts its
  * input) — these are the production guards in front of that.
  *
  * Both are pure aggregation pipelines: the expectation report is one
  * partial-agg scan plus two key-projected joins (duplicate-key and
  * referential checks); drift is two tiny grouped aggregates over a
  * fixed bin grid. Nothing here shuffles row payloads — only counts.
  */
object Quality {

  /** Constraint-violation report over a lineitem-shaped fact and its
    * orders parent: one row per check with the violating row count.
    *
    *  - range/null checks ride ONE aggregate scan (map-side partials,
    *    no shuffle of data rows);
    *  - dup_pk counts surplus rows per duplicated (orderkey, linenumber)
    *    — the groupBy shuffles two long keys, nothing wider;
    *  - orphan_orderkey anti-joins the fact's key projection against the
    *    parent's key set (AQE broadcasts the smaller side).
    *
    * The report is deterministic and its checks compose: a clean table
    * emits all-zero counts (still one row per check, so the report shape
    * is stable for alerting). */
  def expectations(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val scan = lineitem.agg(
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("quantity_range"),
      sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
        .as("nonpositive_price"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
        .as("null_shipdate"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("discount_range"))
    val scanRows = scan.select(expr(
      """stack(4,
           'quantity_range', quantity_range,
           'nonpositive_price', nonpositive_price,
           'null_shipdate', null_shipdate,
           'discount_range', discount_range) as (check_name, n_violations)"""))
    val dup = lineitem
      .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_violations"))
      .select(lit("dup_pk").as("check_name"), col("n_violations"))
    val orphan = lineitem.select("l_orderkey")
      .join(orders.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orphan_orderkey").as("check_name"), col("n_violations"))
    scanRows.unionByName(dup).unionByName(orphan)
  }

  /** Population-stability-index drift between the events BEFORE
    * `splitTs` (baseline p) and at-or-after it (current q), per
    * event_type: values bucket into `nBins` fixed-width bins, bin
    * proportions get Laplace smoothing (+0.5 per bin — a bin empty on
    * one side contributes a finite, bounded term instead of ±∞), and
    * PSI = Σ (p−q)·ln(p/q). Industry reading: <0.1 stable, 0.1–0.25
    * drifting, >0.25 shifted.
    *
    * Scale shape: one grouped count per (type, side, bin) — partial
    * aggs collapse the scan to ≤ types·sides·bins rows — then all math
    * runs on the tiny dense grid (types × bins, built by cross-joining
    * two frames of literal size). The event payload is never shuffled. */
  def drift(events: DataFrame, splitTs: String,
            nBins: Int = 10, binWidth: Double = 50.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val side = when(col("ts") < lit(splitTs).cast("timestamp"), "p")
      .otherwise("q")
    val bin = least(floor(col("value") / binWidth), lit(nBins - 1L))
      .cast("long")
    val counts = events
      .select(col("event_type"), side.as("side"), bin.as("bin"))
      .groupBy("event_type", "side", "bin").agg(count(lit(1)).as("c"))
    // dense (type × side × bin) grid: missing bins must smooth to 0.5,
    // not silently drop out of the sum
    val grid = events.select("event_type").distinct()
      .crossJoin(spark.range(nBins).select(col("id").as("bin")))
      .crossJoin(Seq("p", "q").toDF("side"))
    val bySide = Window.partitionBy("event_type", "side")
    val props = grid
      .join(counts, Seq("event_type", "side", "bin"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("prop",
        (col("c") + lit(0.5)) / (sum("c").over(bySide) + lit(0.5 * nBins)))
    props.filter(col("side") === "p")
      .select(col("event_type"), col("bin"), col("prop").as("pp"))
      .join(props.filter(col("side") === "q")
        .select(col("event_type"), col("bin"), col("prop").as("qp")),
        Seq("event_type", "bin"))
      .groupBy("event_type")
      .agg(round(sum((col("pp") - col("qp")) * log(col("pp") / col("qp"))), 6)
        .as("psi"))
  }

  /** Freshness / completeness report per event_type — the observability
    * row a lake monitor alerts on: row volume, latest arrival, distinct
    * active days, hours behind the freshest type in the corpus, and the
    * null-payload fraction.
    *
    * Scale shape: ONE partial-agg scan produces the per-type rows
    * (count-distinct-days expands to (type, day) keys — still key-width
    * rows, never the payload); the corpus-wide high-water mark is a
    * 1-row broadcast cross join back onto the tiny report frame. Lag is
    * integer hours from epoch-second subtraction, so the column is
    * engine-stable (no interval arithmetic). */
  def freshness(events: DataFrame): DataFrame = {
    val per = events.groupBy("event_type").agg(
      count(lit(1)).as("n_rows"),
      max(col("ts")).as("max_ts"),
      countDistinct(to_date(col("ts"))).as("active_days"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"))
    val hwm = events.agg(max(col("ts")).as("corpus_max_ts"))
    per.crossJoin(broadcast(hwm))
      .select(col("event_type"), col("n_rows"), col("max_ts"),
        col("active_days"),
        ((unix_timestamp(col("corpus_max_ts")) -
          unix_timestamp(col("max_ts"))) / 3600).cast("long")
          .as("hours_behind"),
        round(col("null_values") / col("n_rows"), 6).as("null_value_frac"))
  }

  /** Key-integrity audit for one FK relationship: child row/null-FK
    * counts, orphaned FK values (present in the child, absent from the
    * parent key set), and parent-side key cardinality + duplicate-key
    * count — the referential checks a warehouse load gate runs before
    * publishing a fact table.
    *
    * Scale shape: one partial agg over the child, one LEFT ANTI join of
    * the child's non-null keys against the DISTINCT parent keys (the
    * parent side collapses to its key set first, so the join input is
    * key-cardinality-sized and broadcast-able for dimension tables; at
    * fact-to-fact scale it shuffles on the key, still narrow), and one
    * two-level partial agg over the parent keys. The three 1-row frames
    * cross-join back together — no driver action, the whole audit is
    * one lazy plan. */
  def referentialIntegrity(relation: String, child: DataFrame,
                           childKey: String, parent: DataFrame,
                           parentKey: String): DataFrame = {
    val base = child.agg(
      count(lit(1)).as("n_child_rows"),
      sum(when(col(childKey).isNull, 1L).otherwise(0L)).as("n_null_fk"))
    val orphans = child.select(col(childKey).as("__k"))
      .filter(col("__k").isNotNull)
      .join(parent.select(col(parentKey).as("__k")).distinct(),
        Seq("__k"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val pkeys = parent.groupBy(col(parentKey)).agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("n_parent_keys"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_parent_keys"))
    base.crossJoin(orphans).crossJoin(pkeys)
      .select(lit(relation).as("relation"), col("n_child_rows"),
        col("n_null_fk"), col("n_orphans"), col("n_parent_keys"),
        col("n_dup_parent_keys"))
  }

  /** Schema drift report between two snapshots of a feed — the check
    * that catches an upstream contract break before any row is read:
    * added/removed columns and type changes, from the schemas alone
    * (driver metadata; zero data scanned). */
  def schemaDrift(old: DataFrame, neu: DataFrame): DataFrame = {
    val spark = old.sparkSession
    import spark.implicits._
    val o = old.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val n = neu.schema.map(f => f.name -> f.dataType.simpleString).toMap
    (o.keySet ++ n.keySet).toSeq.sorted.map { c =>
      val status = (o.get(c), n.get(c)) match {
        case (Some(a), Some(b)) if a == b => "unchanged"
        case (Some(_), Some(_))           => "type_changed"
        case (Some(_), None)              => "removed"
        case (None, Some(_))              => "added"
      }
      (c, o.getOrElse(c, null), n.getOrElse(c, null), status)
    }.toDF("col_name", "old_type", "new_type", "status")
  }

  /** Per-column completeness report: null count + null rate for every
    * requested column, ONE aggregation pass (2k aggregates over k
    * columns, all partial map-side) pivoted to a k-row report — never k
    * table scans. The profiling step a pipeline runs before trusting a
    * new drop. */
  def completeness(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +:
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_total"),
        col(s"__null_$c").as("n_null"),
        round(col(s"__null_$c") / col("__n"), 6).as("null_rate"))
    }
    wide.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  /** Primary-key uniqueness audit across a set of declared keys: for
    * each (entity, key columns) report total rows, distinct key values,
    * and the duplicate surplus — the "is this actually a key" gate a
    * warehouse load runs before merging a new drop.
    *
    * Scale shape: one partial-agg pass per entity (count + exact
    * count-distinct — at 100 TB swap in approx_count_distinct, the
    * report's rate is what matters, per SURVEY §4), each producing a
    * 1-row frame; the union is entity-count-sized. Composite keys
    * hash-distinct on the column tuple, so the shuffle key is the
    * declared key itself — no wider. */
  def uniqueness(entities: Seq[(String, DataFrame, Seq[String])]): DataFrame =
    entities.map { case (name, df, keyCols) =>
      df.agg(count(lit(1)).as("n_rows"),
          count_distinct(col(keyCols.head), keyCols.tail.map(col): _*)
            .as("n_keys"))
        .select(lit(name).as("entity"),
          lit(keyCols.mkString(",")).as("key_cols"),
          col("n_rows"), col("n_keys"),
          (col("n_rows") - col("n_keys")).as("dup_rows"))
    }.reduce(_.unionByName(_))

  /** Observed ingest profile via Spark's `Observation` API — the
    * ZERO-extra-pass way to collect admission metrics: the aggregates
    * piggyback on whatever action materializes the frame (here a
    * count(), standing in for the real pipeline's write), so at 100 TB
    * the profile costs nothing beyond the load itself — no second scan,
    * no separate profiling job, metrics surface on the driver through
    * the listener bus. Contrast dq_completeness, which IS a scan: use
    * that shape ad hoc, this shape on every production load. Distinct
    * aggregates are disallowed inside observe() (they don't partial-
    * aggregate), which is exactly the constraint that keeps this free.
    * Returns the 1-row metrics frame. */
  def observedProfile(events: DataFrame): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val observed = events.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
      round(min(col("value")), 2).as("min_value"),
      round(max(col("value")), 2).as("max_value"),
      round(sum(col("value")), 2).as("sum_value"))
    observed.write.format("noop").mode("overwrite").save() // the "load"
    val r = obs.get
    val spark = events.sparkSession
    import spark.implicits._
    Seq((r("n_rows").asInstanceOf[Long],
      r("null_values").asInstanceOf[Long],
      r("min_value").asInstanceOf[Double],
      r("max_value").asInstanceOf[Double],
      r("sum_value").asInstanceOf[Double]))
      .toDF("n_rows", "null_values", "min_value", "max_value", "sum_value")
  }

  /** k-anonymity audit over a set of quasi-identifier expressions: how
    * re-identifiable is this corpus if it shipped as-is? Groups rows by
    * the quasi-identifier tuple and reports the anonymity level (the
    * smallest group), how many groups fall below `k`, and how many rows
    * sit in those under-k groups — the privacy gate a training-data
    * release runs next to the PII scrub (tx_pii). One partial-agg
    * rollup on the quasi tuple then a second tiny rollup of the group
    * counts; no row payloads ever shuffle, only (tuple, count) pairs. */
  /** Join-key skew report — the diagnostic run BEFORE picking a salt
    * factor or trusting AQE's skew split: the `topN` heaviest keys with
    * their corpus share and multiple-of-median-key-load. One narrow
    * (key, count) rollup; the median/total ride back as a 1-row
    * broadcast; top-n is TakeOrderedAndProject. `x_median` ≫ 1 on a
    * key that dominates its task is the smoking gun for salting
    * (sc_salted_join) or AQE skew-join thresholds. */
  def skewReport(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val stats = counts.agg(
      expr("percentile(n, 0.5)").as("__med"), sum("n").as("__total"))
    counts.crossJoin(broadcast(stats))
      .select(col(keyCol), col("n"),
        round(col("n") / col("__total"), 6).as("share"),
        round(col("n") / col("__med"), 2).as("x_median"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(topN)
  }

  def kAnonymity(df: DataFrame, quasi: Seq[Column], k: Int = 5): DataFrame =
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("n_groups"),
        min("__n").as("anonymity_k"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("groups_below_k"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L))
          .as("rows_at_risk"))

  /** Differentially-private HISTOGRAM release — the publish gate next
    * to [[kAnonymity]] when corpus statistics leave the trust boundary
    * (ε-DP counting query, sensitivity 1: one individual moves one
    * count by one). Each group's count gets Laplace(Δ/ε) noise via
    * inverse-CDF: noise = −(Δ/ε)·sign(u−½)·ln(1−2|u−½|).
    *
    * u is HASH-derived ((md5(tag:group)[0:4] + 0.5)/65536 — never
    * exactly 0 or 1), which makes the release deterministic per
    * (tag, group): the cross-engine contract and the specs can verify
    * the exact arithmetic, and a replayed pipeline can't burn privacy
    * budget by re-rolling fresh noise for the same release tag (the
    * "sticky noise" discipline real DP systems implement — though with
    * a cryptographic PRF and a secret key, which is what production
    * swaps in for md5; vary `releaseTag` to spend new budget). The
    * noisy count is the ONLY per-group output — the true count never
    * leaves. One partial-agg pass; noise math is codegen'd columns. */
  def dpNoisyCounts(df: DataFrame, groupCol: String, eps: Double = 0.5,
                    releaseTag: String = "r1"): DataFrame = {
    val hh = md5(concat(lit(s"dp:$releaseTag:"), col(groupCol)))
    val u = (conv(substring(hh, 1, 4), 16, 10).cast("double") + 0.5) /
      65536.0
    val noise = -lit(1.0 / eps) * signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("__n"))
      .select(col(groupCol),
        round(greatest(col("__n") + noise, lit(0.0)), 4).as("noisy_n"),
        lit(eps).as("epsilon"))
  }

  /** DATASET CARD — the summary artifact a curated corpus ships with
    * (HuggingFace dataset-card numbers, computed ON the engine): doc
    * and unique-text counts, exact-dup rate, token totals and means,
    * char distribution center, language mix and its Shannon entropy.
    * Long (metric, value) format so the card grows without schema
    * churn. ONE corpus scan feeds the global aggregate; the language
    * mix is a second narrow rollup; everything else is arithmetic on
    * those two tiny frames. All counts integer-exact; ratios and the
    * ≤k-row entropy sum round 6. */
  def datasetCard(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.wsTokenCount
    val base = docs.agg(
      count(lit(1)).as("n"),
      countDistinct(md5(col("text"))).as("u"),
      sum(wsTokenCount(col("text")).cast("long")).as("tok"),
      sum(length(col("text")).cast("long")).as("chars"),
      expr("percentile(n_chars, CAST(1 AS DOUBLE)/2)").as("p50c"))
    val global = base.select(explode(array(
      struct(lit("n_docs").as("metric"),
        col("n").cast("double").as("value")),
      struct(lit("n_unique_texts").as("metric"),
        col("u").cast("double").as("value")),
      struct(lit("exact_dup_rate").as("metric"),
        round(lit(1.0) - col("u") / col("n").cast("double"), 6)
          .as("value")),
      struct(lit("total_ws_tokens").as("metric"),
        col("tok").cast("double").as("value")),
      struct(lit("mean_ws_tokens").as("metric"),
        round(col("tok") / col("n").cast("double"), 6).as("value")),
      struct(lit("mean_chars").as("metric"),
        round(col("chars") / col("n").cast("double"), 6).as("value")),
      struct(lit("p50_chars").as("metric"),
        round(col("p50c"), 6).as("value")))).as("m"))
      .select(col("m.metric"), col("m.value"))
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("c"))
    val langRows = byLang.select(
      concat(lit("docs_lang_"), col("lang")).as("metric"),
      col("c").cast("double").as("value"))
    val entropy = byLang
      .crossJoin(broadcast(byLang.agg(sum("c").as("ct"))))
      .agg(round(-sum((col("c") / col("ct").cast("double")) *
        log(col("c") / col("ct").cast("double"))), 6).as("value"))
      .select(lit("lang_entropy").as("metric"), col("value"))
    global.unionByName(langRows).unionByName(entropy)
  }

  /** EXPLAIN ANALYZE as a DataFrame — execute a query and report every
    * physical operator's emitted row count (the engine's own
    * observability surface: where do rows actually drop, which join
    * side exploded, did the partial agg combine). Executes the frame
    * once, then walks the AQE-FINAL plan (post-run re-optimization —
    * runtime join demotions and reused exchanges only exist there),
    * reading each node's `numOutputRows` SQL metric. The report is
    * plan-sized — a justified driver materialization, same class as a
    * codebook. Row counts are deterministic for a deterministic query;
    * operators without a row metric (exchanges' readers, reused
    * subtrees) report -1, not a fabricated 0. Output: (ord, depth, op,
    * rows) in pre-order. */
  def planMetrics(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // Drive THIS frame's own executedPlan instance (count()/rdd/write
    // each build a fresh QueryExecution whose metrics this report can't
    // see). The RDD count action runs every partition without
    // materializing rows on the driver. SQL metrics ACCUMULATE across
    // reruns of one plan instance; reset what exists first (best
    // effort — AQE stage reuse may still skip recompute on a re-call,
    // so the contract is: build the frame fresh, report once).
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def resetAll(p: SparkPlan): Unit = {
      p.metrics.values.foreach(_.reset())
      unwrap(p).foreach(resetAll)
    }
    resetAll(df.queryExecution.executedPlan)
    df.queryExecution.executedPlan.execute().count()
    def walk(p: SparkPlan, depth: Int): Seq[(Int, String, Long)] = p match {
      case w @ (_: AdaptiveSparkPlanExec | _: QueryStageExec) =>
        // transparent wrappers: report the wrapped plan at this depth
        unwrap(w).flatMap(c => walk(c, depth))
      case n =>
        (depth, n.nodeName,
          n.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)) +:
          unwrap(n).flatMap(c => walk(c, depth + 1))
    }
    val rows = walk(df.queryExecution.executedPlan, 0)
      .zipWithIndex.map { case ((d, nm, r), i) => (i.toLong, d, nm, r) }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("ord", "depth", "op", "rows")
  }

  /** HOURLY-GRID coverage — which hours inside the corpus's own span
    * have NO data at all ([[volumeAnomaly]] scores days that exist;
    * this finds the holes — the failure mode where an ingestion outage
    * leaves nothing to score): the expected grid is generated from the
    * observed [min, max] span (calendar-bounded `sequence`, never
    * data-sized), observed hours anti-join it, one 1-row rollup with
    * the first gap pinpointed. */
  def hourCoverage(events: DataFrame): DataFrame = {
    val hrs = events
      .select(Resample.hourKey.as("hr")).distinct()
    val expected = hrs.agg(min("hr").as("h0"), max("hr").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hr"))
    val missing = expected.join(hrs, Seq("hr"), "left_anti")
      .agg(count(lit(1)).as("n_missing"),
        min("hr").as("first_missing_hr"))
    expected.agg(count(lit(1)).as("n_expected"))
      .crossJoin(hrs.agg(count(lit(1)).as("n_observed")))
      .crossJoin(missing)
      .select(col("n_expected"), col("n_observed"), col("n_missing"),
        col("first_missing_hr"),
        round(col("n_observed").cast("double") / col("n_expected"), 6)
          .as("coverage"))
  }

  /** DAILY-VOLUME anomaly report — the ingestion health check run
    * before any metric is read: each day's row count scored by the
    * ROBUST z (0.6745·(n−med)/MAD — a mean/σ z-score is poisoned by
    * the very outlier days it should flag; the median/MAD pair is
    * not), flagged past the standard 3.5 cutoff. Catches the half-day
    * of dropped ingestion AND the double-load replay, which cancel in
    * a weekly mean. Two rollups over the days-sized count frame, the
    * (median, MAD) pair rides back as a 1-row broadcast. */
  def volumeAnomaly(events: DataFrame, thresh: Double = 3.5)
      : DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val med = daily.agg(expr("percentile(n, 0.5)").as("med"))
    val mad = daily.crossJoin(broadcast(med))
      .agg(expr("percentile(abs(n - med), 0.5)").as("mad"),
        first(col("med")).as("med"))
    daily.crossJoin(broadcast(mad))
      .select(col("day"), col("n"),
        round(lit(0.6745) * (col("n") - col("med")) /
          nullif(col("mad"), lit(0.0)), 4).as("robust_z"))
      .withColumn("flagged", abs(col("robust_z")) > thresh)
      .orderBy("day")
  }

  /** SAMPLE-RATIO-MISMATCH gate — the first health check every
    * experiment platform runs before reading ANY metric: if the
    * hash-assigned arms don't split 50/50 within chi-square noise, the
    * assignment or logging pipeline is broken and every downstream
    * readout is invalid. Arm comes from [[Stats.md5Arm]] — first md5
    * hex digit < '8' → A — the ONE split definition shared with
    * st_power and stream_ab_monitor, so this audit gates exactly the
    * assignment those surfaces report on (r9: it previously used digit
    * parity, which disagreed per-user with md5Arm and made
    * cross-surface arm reconciliation silently fail). χ² against the
    * expected even split collapses to (nₐ−n_b)²/(nₐ+n_b); flagged at
    * the 5% critical value 3.841. One distinct-unit pass, 1-row
    * output. */
  def srmCheck(events: DataFrame): DataFrame = {
    events.select(col("user_id")).distinct()
      .select(Stats.md5Arm(col("user_id")).as("arm"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) /
          (col("n_a") + col("n_b")).cast("double"), 6).as("chi2"),
        (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b")) > 3.841)
          .as("srm_flag"))
  }

  /** HASH-UNIFORMITY audit — a one-sample KS test of the bucketing
    * hash against U(0,1), the invariant every hash-split surface
    * (pipe_split, dd_reweight arms, dq_srm) silently relies on: map
    * each distinct key through the Knuth multiplicative hash to a
    * dyadic u ∈ [0,1) (exact in doubles — no float noise enters), and
    * D = sup|ECDF − u| evaluated at both sides of every jump. A biased
    * hash here means every downstream split is quietly biased.
    *
    * [[Stats.stripedPrefix]] on value-range stripes of u itself (no
    * global sort, no bounds pass); D is a max, which commutes, so the
    * whole statistic is partition-invariant with zero rounding
    * tolerance. The id·constant product runs in DECIMAL(38,0) — a Long
    * product would silently wrap (non-ANSI mode) for ids ≥ ~3.5e9,
    * corrupting the statistic while the DuckDB twin (HUGEINT) stays
    * exact; decimal keeps both engines bit-identical across the full
    * id space, and the mod-2³² residue is < 2⁵³ so the final double
    * division stays exact. */
  def hashUniformity(events: DataFrame, keyCol: String = "user_id")
      : DataFrame = {
    val pts = events.select(col(keyCol)).distinct()
      .withColumn("u",
        (col(keyCol).cast("decimal(38,0)") * lit(2654435761L)
          % lit(4294967296L)).cast("double") / lit(4294967296.0))
      .groupBy("u").agg(count(lit(1)).as("c"))
    val tot = pts.agg(sum("c").as("n"))
    // u lies in [0, 1): its value-range stripes need no bounds pass
    Stats.stripedPrefix(pts, Stats.valueStripe(col("u"), lit(0.0), lit(1.0)),
        Seq(col("u")), Seq("c"))
      .withColumnRenamed("below_c", "below")
      .crossJoin(broadcast(tot))
      .agg(max(greatest(
        abs((col("below") + col("c")).cast("double") / col("n")
          - col("u")),
        abs(col("below").cast("double") / col("n") - col("u"))))
        .as("d"),
        max("n").as("n"))
      .select(col("n").as("n_keys"), round(col("d"), 6).as("d_stat"),
        round(lit(1.358) / sqrt(col("n").cast("double")), 6)
          .as("crit_5pct"),
        (col("d") < lit(1.358) / sqrt(col("n").cast("double")))
          .as("uniform_ok"))
  }

  /** ANDERSON–DARLING uniformity audit of the bucketing hash (r9) —
    * the TAIL-weighted companion to [[hashUniformity]]'s KS gate: KS
    * sees only the single largest ECDF gap, so a hash that is fine in
    * the middle but starves the extremes (exactly where threshold
    * samplers like pipe_split cut) passes KS and fails AD, whose
    * (2i−1)·[ln u + ln(1−u)] weights blow up at 0 and 1.
    *
    * A² = −n − (1/n)·Σᵢ[(2i−1)·ln u₍ᵢ₎ + (2(n−i)+1)·ln(1−u₍ᵢ₎)] over
    * sorted u; grouped by DISTINCT u (count c, exact strictly-below
    * count b) the rank sums collapse to integer coefficients
    * 2bc+c² and 2c(n−b)−c², so position-assignment among ties never
    * enters — the only floats are the two ln's (midpoint placement
    * u=(r+0.5)/2³² keeps both logs finite and the dyadic u exact).
    * Distinct-u frame is key-cardinality-bounded; the window runs on
    * it, not the corpus (swap in the striped-prefix skeleton above if
    * distinct u ever outgrows a task). */
  def adUniformity(events: DataFrame, keyCol: String = "user_id")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = events.select(col(keyCol)).distinct()
      .withColumn("u",
        ((col(keyCol).cast("decimal(38,0)") * lit(2654435761L)
          % lit(4294967296L)).cast("double") + lit(0.5))
          / lit(4294967296.0))
      .groupBy("u").agg(count(lit(1)).as("c"))
    val wBelow = Window.orderBy("u")
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = g
      .withColumn("b", coalesce(sum("c").over(wBelow), lit(0L)))
      .crossJoin(broadcast(g.agg(sum("c").as("n"))))
      .agg(max("n").as("n"),
        sum((lit(2L) * col("b") * col("c") + col("c") * col("c"))
          .cast("double") * log(col("u"))).as("s1"),
        sum((lit(2L) * col("c") * (col("n") - col("b")) -
          col("c") * col("c")).cast("double") *
          log(lit(1.0) - col("u"))).as("s2"))
    agg.select(col("n").as("n_keys"),
      round(-col("n").cast("double") -
        (col("s1") + col("s2")) / col("n"), 6).as("a2"),
      lit(2.492).as("crit_5pct"),
      (-col("n").cast("double") - (col("s1") + col("s2")) / col("n")
        < lit(2.492)).as("uniform_ok"))
  }

  /** WEEKLY MIXTURE-DRIFT via Jensen–Shannon divergence — the
    * composition-drift monitor next to [[drift]]'s per-value view:
    * each week's event-type MIX (a distribution over categories)
    * compared to the previous week's, JSD = Σ (p·log2(p/m) +
    * q·log2(q/m))/2 with m the midpoint — symmetric, bounded [0,1],
    * and defined when a category appears in only one week (the
    * failure mode that makes naive KL blow up exactly when drift is
    * worst). The alarm for "the upstream producer changed what it
    * sends", which volume monitors miss when totals stay flat.
    *
    * Each per-category term quantizes to integer NANO-units before
    * the per-week sum (term-order-free — exact long arithmetic), all
    * ratios divide exact counts. One partial-agg pass to the
    * (week, type) frame; the week-over-week alignment is an equi-join
    * on the shifted week key; weeks-sized output. */
  def mixDrift(events: DataFrame): DataFrame = {
    val wk = events
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("nt", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy("week")))
    val cur = wk.select(col("week"), col("event_type"),
      (col("n").cast("double") / col("nt")).as("p"))
    val prev = wk.select(date_add(col("week"), 7).as("week"),
      col("event_type"), (col("n").cast("double") / col("nt")).as("q"))
    val both = cur.join(prev, Seq("week", "event_type"), "full")
      .na.fill(0.0, Seq("p", "q"))
      .filter(col("p") > 0 || col("q") > 0)
    val m = (col("p") + col("q")) / 2.0
    def side(x: Column) =
      when(x === 0.0, 0.0).otherwise(x * log2(x / m))
    val term = round((side(col("p")) + side(col("q"))) / 2.0 * 1e9)
      .cast("long")
    both.groupBy("week")
      .agg(count(lit(1)).as("n_types"), sum(term).as("tu"))
      // a comparison needs BOTH sides observed: the first week has no
      // predecessor, and the last week's shifted ghost (week+7) has no
      // current data — drop each via its own semi-join
      .join(wk.select(date_add(col("week"), 7).as("week")).distinct(),
        Seq("week"), "left_semi")
      .join(wk.select("week").distinct(), Seq("week"), "left_semi")
      // floor convention (Exact.scala): tu/1000 exact for integer
      // nano-sums — engine round() at 6dp of a 9dp grid is the half-case
      .select(col("week"), col("n_types"),
        (floor(col("tu") / 1000.0 + 0.5) / 1e6).as("jsd"))
  }

  /** FUNCTIONAL-DEPENDENCY audit — the schema-semantics check next to
    * [[uniqueness]]'s key check: for each candidate FD X→Y, count the
    * X-groups whose Y is not single-valued ("does orderkey really
    * determine custkey; does nation determine segment"). A true FD has
    * zero violating groups; the violation RATE ranks how close a dirty
    * candidate is to holding — the profiling signal that drives
    * normalization and late-arriving-dimension triage.
    *
    * Each candidate is ONE map-side-combined rollup on its determinant
    * (count_distinct partial-aggregates; determinant-sized frames),
    * then a 1-row summary; candidates union into the report. */
  def fdCheck(fds: Seq[(String, DataFrame, Seq[String], String)])
      : DataFrame =
    fds.map { case (name, df, determinant, dependent) =>
      df.groupBy(determinant.map(col): _*)
        .agg(countDistinct(col(dependent)).as("ny"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("ny") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
          round(col("n_violating").cast("double") / col("n_groups"), 6)
            .as("violation_rate"),
          (col("n_violating") === 0L).as("holds"))
    }.reduce(_.unionByName(_))
  /** ORDER-INVARIANT TABLE FINGERPRINT — the replication/migration
    * verifier ("did the copy arrive bit-identical") that cannot depend
    * on row order, file layout, or partitioning: each row serializes
    * to one canonical string (integer-cent prices and ISO dates — no
    * float formatting to disagree over), hashes through md5, and the
    * first 15 hex digits parse to a long whose SUM (an abelian fold —
    * any partitioning, any order) taken mod 1e18 is the fingerprint.
    * One changed character in one row moves the sum with probability
    * 1−2⁻⁶⁰; a dropped-and-readded row cannot hide because n_rows
    * rides along. One scan, one partial-agg; no sort, no shuffle of
    * data rows — THE cheapest whole-table integrity check at 100 TB.
    * (md5 rather than xxhash64 so any engine — the DuckDB twin here —
    * can recompute the same fingerprint; this is a data contract, not
    * a private hash.) */
  def tableFingerprint(orders: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    orders
      .select(orderRowHash.as("h"))
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(col("h").cast(dec)), lit(1000000000000000000L).cast(dec))
          .cast("long").as("fingerprint"))
  }

  /** The ONE canonical order-row hash under [[tableFingerprint]] and
    * the streaming [[graft.streaming.FingerprintSink]] — one
    * definition, two surfaces, so the live fingerprint can be checked
    * against any batch recompute (and any other engine). */
  private[graft] def orderRowHash: Column =
    conv(substring(md5(concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long"),
      col("o_orderdate").cast("string"), col("o_orderpriority"))),
      1, 15), 16, 10).cast("long")
  /** ANALYZE-style COLUMN PROFILE of the orders table — the catalog
    * statistics a cost-based optimizer (or a data contract) feeds on,
    * produced as a queryable frame: per column, null count, EXACT
    * distinct count, and canonical min/max (prices as integer cents,
    * dates as ISO strings — no float formatting to disagree over).
    *
    * Shape (r16 — MEASURED, replaces the 6× Expand single-agg): one
    * independent aggregate LEG per profile column, unioned. A single
    * agg with 6 countDistincts rewrites to a 7× Expand of the scan,
    * and the string min/max buffers disqualify HashAggregate, so the
    * whole expanded stream was SORTED (SortAggregate over 7·N rows —
    * thread-dump-verified TimSort hot; 3.6 s at sf0.1). Each leg has
    * ONE distinct aggregate (no rewrite, no Expand), prunes the scan
    * to its own column (columnar parquet → same total bytes as one
    * 6-column scan), and the 6 legs' stages run concurrently inside
    * the one job (0.2-0.4 s at sf0.1). Values bit-identical: same
    * countDistinct / sum(when) / min / max / casts per column. */
  def columnStats(orders: DataFrame): DataFrame = {
    val q = orders.withColumn("o_totalprice_cents",
      round(col("o_totalprice") * 100).cast("long"))
    val names = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice_cents", "o_orderdate", "o_orderpriority")
    names.map { n =>
      q.agg(sum(when(col(n).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(n)).as("ndv"),
        min(col(n)).cast("string").as("min_val"),
        max(col(n)).cast("string").as("max_val"))
        .select(lit(n).as("column"), col("n_nulls"), col("ndv"),
          col("min_val"), col("max_val"))
    }.reduce(_.unionByName(_))
  }

  /** CANDIDATE-KEY DISCOVERY over the orders profile columns — the
    * schema-archaeology pass every inherited table needs ("which
    * column (pair) actually identifies a row?"): for every single
    * column and every unordered pair from the profile set, the EXACT
    * distinct count, the distinctness ratio, and the is_key verdict
    * (ratio = 1). Pairs matter because real keys are often composite
    * (natural keys rarely survive in one column).
    *
    * Shape (r16 — MEASURED, replaces the 16× Expand single-agg): one
    * independent aggregate LEG per combo, unioned, sharing a broadcast
    * 1-row n_rows frame. A single agg with 15 countDistincts rewrote
    * to a 16× Expand of the scan whose expanded string columns then
    * aggregated on ONE input task (4.2 s at sf0.1); per-combo legs
    * each plan a plain two-stage distinct over their own pruned
    * columns and the 15 legs' stages run concurrently inside the one
    * job (0.2-0.6 s). Exactness is the point (a 99.9%-distinct column
    * is NOT a key) and values are bit-identical per combo. The
    * unbounded-scale screen is [[pkDiscoveryScalable]]'s sketch pass
    * with exact confirmation on the survivors. */
  def pkDiscovery(orders: DataFrame): DataFrame = {
    val combos: Seq[Seq[String]] = pkCombos
    val nrows = orders.agg(count(lit(1)).as("__n"))
    combos.map { cs =>
      orders.agg(countDistinct(struct(cs.map(col): _*)).as("ndv"))
        .select(lit(cs.mkString("+")).as("columns"), col("ndv"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(nrows))
      .select(col("columns"), col("ndv"), col("__n").as("n_rows"),
        round(col("ndv") / col("__n").cast("double"), 6).as("ratio"),
        (col("ndv") === col("__n")).as("is_key"))
  }

  /** The sketch screen of [[pkDiscoveryScalable]], exposed for the
    * plan-shape lock: all 15 combo NDVs in ONE aggregate — a single
    * partial-agg pass with NO Expand (the exact [[pkDiscovery]] runs
    * 16 legs for the same counts). One row out: (__n, d1..d15).
    *
    * r16 (MEASURED): approx_count_distinct(rsd 0.03) paid the HLL++
    * flat-register-buffer codegen tax (see [[columnStatsApprox]] —
    * ~3k buffer attributes across 15 combos, megabyte projection
    * source regenerated per task; 4.8 s at sf0.1) → Datasketches
    * hll_sketch_agg at the lgK matching the requested rsd (compact
    * binary buffer; 0.3-0.5 s). Combo tuples feed the sketch as
    * xxhash64 of the columns (the sketch accepts scalars only; a
    * 64-bit tuple-hash collision perturbs an NDV estimate by ~n²/2⁶⁴
    * — orders below the sketch's own rse, and survivors are
    * exact-confirmed downstream regardless). */
  def pkScreen(orders: DataFrame, combos: Seq[Seq[String]],
               rsd: Double = 0.03): DataFrame = {
    val lgK = ndvSketchLgK(rsd)
    val aggs = count(lit(1)).as("__n") +: combos.zipWithIndex.map {
      case (cs, i) =>
        hll_sketch_estimate(
          hll_sketch_agg(xxhash64(cs.map(col): _*), lit(lgK)))
          .as(s"d${i + 1}")
    }
    orders.agg(aggs.head, aggs.tail: _*)
  }

  /** The profile-combo set [[pkDiscovery]] and [[pkDiscoveryScalable]]
    * share: every single column and every unordered pair. */
  def pkCombos: Seq[Seq[String]] = {
    val names = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderdate", "o_orderpriority")
    names.map(Seq(_)) ++
      (for { i <- names.indices; j <- i + 1 until names.size }
        yield Seq(names(i), names(j)))
  }

  /** The unbounded-scale twin of [[pkDiscovery]] — sketch screen,
    * exact confirmation on survivors only:
    *
    *   1. SCREEN: one no-Expand pass ([[pkScreen]], rsd 0.03; the lgK
    *      is derived from rsd so the threshold below keeps its sigma
    *      meaning) bounds every combo's NDV. A combo whose approx
    *      ratio falls below 1 − 5·rsd = 0.85 is definitively NOT a
    *      key (a 5-sigma event to be wrong) and never pays an exact
    *      count.
    *   2. CONFIRM: the survivors — on real tables, the handful of true
    *      keys — get exact countDistinct as per-survivor legs in one
    *      second job (never a multi-distinct Expand), and the is_key
    *      verdict stays EXACT (a 99.9%-distinct column must not
    *      report as a key — same contract as the exact surface).
    *
    * Driver-side state is two 1-row scalar fetches (the codebook-
    * training class) and the 15-row report literal. Non-survivor rows
    * report the sketch NDV (engine-private → rows-only surface);
    * is_key agreement with [[pkDiscovery]] and the ≤5·rsd NDV error
    * are spec-verified, the screen's no-Expand plan is plan-locked. */
  def pkDiscoveryScalable(orders: DataFrame, rsd: Double = 0.03): DataFrame = {
    val combos = pkCombos
    val row = pkScreen(orders, combos, rsd).head()
    val n = row.getLong(0)
    val approx = combos.indices.map(i => row.getLong(i + 1))
    val survivors = combos.indices
      .filter(i => approx(i).toDouble >= n.toDouble * (1.0 - 5.0 * rsd))
    val exact: Map[Int, Long] =
      if (survivors.isEmpty) Map.empty
      else {
        // per-survivor legs, one job (the pkDiscovery r16 shape): a
        // multi-distinct agg would rewrite to a |survivors|+1× Expand
        survivors.map { i =>
          orders
            .agg(countDistinct(struct(combos(i).map(col): _*)).as("ndv"))
            .select(lit(i).as("ci"), col("ndv"))
        }.reduce(_.unionByName(_)).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      }
    val spark = orders.sparkSession
    import spark.implicits._
    combos.indices.map { i =>
      val ndv = exact.getOrElse(i, approx(i))
      // n == 0 guard: ndv/n is NaN and BigDecimal(NaN) throws; report
      // ratio 0.0 instead (is_key stays true — every combo vacuously
      // keys an empty table, matching the exact twin's 0 === 0)
      val ratio =
        if (n == 0L) 0.0
        else BigDecimal(ndv.toDouble / n.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (combos(i).mkString("+"), ndv, n, ratio,
        exact.get(i).contains(n))
    }.toDF("columns", "ndv", "n_rows", "ratio", "is_key")
  }

  /** The lgK (log2 register count) giving a Datasketches-HLL relative
    * standard error ≤ `rsd` (rse ≈ 1.04/√2^lgK — the same constant as
    * HLL++, so rsd-derived thresholds keep their sigma meaning). */
  private[operators] def ndvSketchLgK(rsd: Double): Int =
    math.ceil(2.0 * math.log(1.04 / rsd) / math.log(2.0)).toInt

  /** The unbounded-scale twin of [[columnStats]]: identical report
    * shape with Datasketches HLL NDVs (hll_sketch_agg at lgK 14 ≙ rse
    * ~0.8% — the spec's 5% bound stays a 5-sigma-class event) in place
    * of the exact ones — ONE partial-agg pass over the scan, NO Expand
    * (plan-shape spec-locked).
    *
    * r16 (MEASURED): this was approx_count_distinct(rsd 0.01) — HLL++
    * flattens its 2^14 registers into ~1.6k aggregation-buffer
    * attributes PER COLUMN, and every task regenerates+formats the
    * megabyte projection source over that buffer
    * (CodeFormatter.stripExtraNewLinesAndComments thread-dump-hot,
    * ~4 s at sf0.1 regardless of parallelism). The Datasketches agg
    * keeps one compact binary buffer per column — same report, same
    * error class, 0.4-0.7 s. NDV is engine-private (sketch layout) →
    * rows-only surface; the ≤5%-relative-error contract vs
    * [[columnStats]] is spec-verified. Timestamp columns feed the
    * sketch as unix_micros (distinctness-preserving; the sketch
    * accepts int/long/string/binary only). */
  def columnStatsApprox(orders: DataFrame): DataFrame = {
    val q = orders.withColumn("o_totalprice_cents",
      round(col("o_totalprice") * 100).cast("long"))
    val names = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice_cents", "o_orderdate", "o_orderpriority")
    val lgK = ndvSketchLgK(0.01)
    def sketchable(n: String): Column = q.schema(n).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(n).cast("timestamp"))
      case _ => col(n)
    }
    val aggs = names.zipWithIndex.flatMap { case (n, i) =>
      Seq(sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"z${i + 1}"),
        hll_sketch_estimate(hll_sketch_agg(sketchable(n), lit(lgK)))
          .as(s"d${i + 1}"),
        min(col(n)).cast("string").as(s"lo${i + 1}"),
        max(col(n)).cast("string").as(s"hi${i + 1}"))
    }
    val agg = q.agg(aggs.head, aggs.tail: _*)
    val stacks = names.zipWithIndex.map { case (n, i) =>
      s"'$n', z${i + 1}, d${i + 1}, lo${i + 1}, hi${i + 1}"
    }.mkString(", ")
    agg.selectExpr(
      s"stack(6, $stacks) as (column, n_nulls, ndv, min_val, max_val)")
  }
}
