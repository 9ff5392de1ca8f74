package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the properties that make these operators
  * scale (pushdown, pruning, broadcast, TakeOrdered, partial agg) are
  * asserted on the executed plan so a refactor can't silently trade them
  * away. (.explain("formatted") audit, SURVEY §4.)
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The AQE-final plan: execute, then read back the re-optimized tree
    * (exchange reuse, runtime join demotions only exist post-run). */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("src_parquet_scan: filter and projection reach the parquet scan") {
    val p = plan("src_parquet_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,49.0)]"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"))
  }

  test("q3_join_broadcast: dims broadcast, no fact-side sort-merge join") {
    val p = plan("q3_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q4_topn: top-N is TakeOrderedAndProject, not a global sort") {
    val p = plan("q4_topn")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("ann_bruteforce: corpus is never shuffled, top-k via TakeOrdered") {
    val p = plan("ann_bruteforce")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("st_ipf: the cell rollup's exchange is the only one, and no " +
      "window chain rakes the grid") {
    val p = plan("st_ipf")
    assert(!p.contains("Window"), s"st_ipf plans a window:\n$p")
    val n = "Exchange ".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one exchange, got $n in:\n$p")
  }

  test("q1_agg: aggregation is partial (map-side) before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
    // and it is a SINGLE pass: one shuffle total (the agg exchange)
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one exchange, got $n in:\n$p")
  }

  test("gr_local_cc / sp_ripley: pair generation is equi-joined, never all-pairs") {
    // triangle corners and radius pairs must come from hash equi-joins;
    // a refactor that drops to a cartesian/BNLJ pair loop is the
    // classic quadratic scale-killer these operators exist to avoid
    val p1 = plan("gr_local_cc")
    assert(!p1.contains("CartesianProduct"), s"gr_local_cc:\n$p1")
    assert(!p1.contains("BroadcastNestedLoopJoin"), s"gr_local_cc:\n$p1")
    val p2 = plan("sp_ripley")
    assert(!p2.contains("CartesianProduct"), s"sp_ripley:\n$p2")
  }

  test("w6_rank_lead: both window frames share ONE user_id exchange") {
    // rank/dense_rank sort by (value desc, id); lead sorts by time — two
    // sorts, but both partition on user_id, so Spark must plan exactly one
    // exchange. A drift to two exchanges doubles the shuffle at any scale.
    val p = plan("w6_rank_lead")
    val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one user_id exchange, got $n in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no global single-partition window allowed:\n$p")
  }

  test("snk_partitioned_write: readback scan prunes partitions") {
    val df = SparkEntry.queries("snk_partitioned_write")(spark, sf)
    df.collect() // materialize (the write happens at query build)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      s"expected o_year partition filter in:\n$p")
  }

  test("ann_lsh: probe scan prunes to the query's bucket partition") {
    val df = SparkEntry.queries("ann_lsh")(spark, sf)
    df.collect() // materialize (the bucketed layout write happens at build)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(bucket"),
      s"expected bucket partition filter in:\n$p")
    // an actual equality prune, not just the isnotnull the line above matches
    assert("\\(bucket#\\d+L? = ".r.findFirstIn(p).isDefined,
      s"expected bucket equality partition filter in:\n$p")
  }

  test("dd_embed_neardup_lsh: candidates come from an equi-join, not an all-pairs loop") {
    val p = plan("dd_embed_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"LSH pair generation must not be an all-pairs BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_ivf: probe prunes to nProbe cell partitions, zero assignment evals") {
    val df = SparkEntry.queries("ann_ivf")(spark, sf)
    df.collect() // first call in a session builds the index lake
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    // the probe reads the pre-assigned lake: the literal IN prunes to the
    // nProbe cell directories and the assignment never re-evaluates
    assert("PartitionFilters: \\[cell#\\d+ IN \\(".r.findFirstIn(p).isDefined,
      s"expected cell IN partition filter in:\n$p")
    val evals = "graft_nearest_centroid".r.findAllIn(p).size
    assert(evals == 0, s"expected 0 assignment evals in probe plan, got $evals:\n$p")
  }

  test("ann_knn_join: candidates meet on the cell equi-join, no cross join") {
    val p = plan("ann_knn_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"kNN join must not cross-join probe and corpus:\n$p")
    assert(p.contains("partial_graft_topk") || p.contains("partial_topk")
      || p.contains("ObjectHashAggregate"),
      s"per-probe top-k should partial-aggregate map-side:\n$p")
  }

  test("pipe_decon_embed_lsh: candidates from the band equi-join — " +
      "never the exact surface's probe-slice broadcast loop") {
    val p = plan("pipe_decon_embed_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bucketed decontamination must not broadcast the probe slice:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs loop:\n$p")
    // and the exact surface IS the broadcast loop (the documented trade)
    val pe = plan("pipe_decon_embed")
    assert(pe.contains("BroadcastNestedLoopJoin"),
      s"exact surface contract changed — update the doc comments:\n$pe")
  }

  test("dq_pk_discovery_scalable: the sketch screen pays NO Expand; " +
      "the exact surface runs per-combo legs, never an Expand") {
    val screen = graft.operators.Quality.pkScreen(
      Tables.orders(spark, sf), graft.operators.Quality.pkCombos)
    val p = screen.queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), s"screen must be one no-Expand pass:\n$p")
    assert(p.contains("hll_sketch_agg"),
      s"screen should be sketch partial aggregation:\n$p")
    val pe = plan("dq_pk_discovery")
    assert(!pe.contains("Expand"),
      "exact surface must stay per-combo legs (r16) — update the doc " +
        "comments if this trade is re-made")
  }

  test("dd_incremental_lsh: no BNLJ anywhere in the incremental path") {
    val p = plan("dd_incremental_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"incremental dedup must stay equi-join shaped:\n$p")
  }

  test("lam_anomaly_join + sp_nearest_join: small sides broadcast") {
    assert(plan("lam_anomaly_join").contains("BroadcastHashJoin"))
    assert(plan("sp_nearest_join").contains("BroadcastNestedLoopJoin"))
  }

  /** Subtrees rooted at each BroadcastExchange line of a plan string
    * (indentation-scoped: child lines are deeper in the tree art). */
  private def broadcastSubtrees(p: String): Seq[String] = {
    val lines = p.linesIterator.toVector
    def depth(l: String): Int = l.indexWhere(_.isLetter)
    lines.zipWithIndex
      .filter(_._1.contains("BroadcastExchange"))
      .map { case (l, i) =>
        val d = depth(l)
        (l +: lines.drop(i + 1).takeWhile(x => depth(x) > d)).mkString("\n")
      }
  }

  test("sp_nearest_cell fallback: supplier set never broadcast when over the row limit") {
    import graft.operators.SpatialJoin
    // maxAbsLat = 0 leaves every customer unresolved by the grid;
    // broadcastRowLimit = 0 declares the supplier side too big to
    // broadcast — the exact fallback must flip the broadcast to the
    // customer tail, leaving the supplier scan on the streamed side
    val df = SpatialJoin.nearestSupplierGrid(
      Tables.customer(spark, sf), Tables.supplier(spark, sf),
      maxAbsLat = 0.0, broadcastRowLimit = 0L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val offending = broadcastSubtrees(p).filter(_.contains("supplier"))
    assert(offending.isEmpty,
      s"supplier side rode a BroadcastExchange in the over-limit fallback:\n${offending.mkString("\n---\n")}")
    // and the result is still the exact NN join
    val exact = SparkEntry.queries("sp_nearest_join")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == exact)
  }

  test("tx_contamination: benchmark side broadcast, corpus never nested-loop joined") {
    val p = plan("tx_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingle set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("src_orc_roundtrip: ORC readback gets pushdown + pruning like parquet") {
    import graft.sources.Lake
    val dir = s"target/scratch/plan_orc_${System.nanoTime()}"
    Lake.writeOrc(Tables.customer(spark, sf), dir)
    val p = Lake.readOrc(spark, dir)
      .filter(col("c_custkey") <= 10).select("c_custkey", "c_acctbal")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(c_custkey), LessThanOrEqual(c_custkey,10)]"),
      s"expected ORC filter pushdown in:\n$p")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_acctbal:double>"),
      s"expected ORC column pruning in:\n$p")
  }

  test("q24_corr_subquery: the correlated subquery decorrelates into an aggregate+join") {
    val p = plan("q24_corr_subquery")
    // no per-row subquery execution: Catalyst rewrites to max-per-key + join
    assert(!p.contains("Subquery"), s"subquery survived decorrelation:\n$p")
    assert(p.contains("partial_max"), s"expected decorrelated max aggregate:\n$p")
  }

  test("snk_bucketed_join: co-located bucket join runs with no join-side exchange") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable BHJ so the plan exercises the bucketed sort-merge path the
    // layout exists for (at real fact×fact scale neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("snk_bucketed_join")(spark, sf)
      df.collect() // materialize through AQE
      val full = df.queryExecution.executedPlan.toString
      // AQE prints Final + Initial plans; audit the final one only
      val p = full.split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), s"expected bucketed SMJ in:\n$p")
      assert(p.contains("Bucketed: true"), s"scan lost the bucketed layout:\n$p")
      // the ONLY exchange is the tiny post-join aggregation's — the join
      // itself reads both bucketed layouts exchange-free
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"join-side exchange crept into the bucketed join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("pipe_curate: hot-fingerprint dedup is group-limited map-side") {
    val p = plan("pipe_curate")
    // the rn=1 filter becomes a partial WindowGroupLimit BELOW the
    // exchange: a billion-duplicate hot fingerprint ships one row per
    // map partition across the fp_norm shuffle, not the whole group
    assert(p.contains("WindowGroupLimit"), s"expected map-side group limit:\n$p")
    assert(p.contains("Exchange hashpartitioning(fp_norm"),
      s"dedup should shuffle on the 16-byte fingerprint only:\n$p")
  }

  test("dwh_cdc_apply: changelog collapse is map-side limited and broadcast onto the snapshot") {
    val p = plan("dwh_cdc_apply")
    // latest-per-key rn=1 prunes before the shuffle; the snapshot join
    // is broadcast — the snapshot itself is never shuffled
    assert(p.contains("WindowGroupLimit"), s"expected map-side group limit:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast snapshot join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"snapshot must not be shuffled for a changelog apply:\n$p")
  }

  test("dwh_scd2: both window frames share one exchange on the key") {
    val p = plan("dwh_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"version build should shuffle once on user_id:\n$p")
  }

  test("ts_anomaly: all three rolling frames share ONE exchange on the key") {
    val p = plan("ts_anomaly")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"mu/sd/n frames must ride one user_id shuffle:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"identical window specs should fuse into one Window operator:\n$p")
  }

  test("w10_retention: events payload never reshuffles past the user exchange") {
    val p = plan("w10_retention")
    // exchange 1: user_id for the first-day window min; exchange 2: the
    // 16-byte (cohort_week, week_offset) triangle agg — nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"retention should shuffle twice at most:\n$p")
    assert(p.contains("partial_count"),
      s"distinct-user count should partial-aggregate map-side:\n$p")
  }

  test("dq_drift: the scan collapses to counts before any wide work") {
    val p = plan("dq_drift")
    assert(p.contains("partial_count"),
      s"bin counting must be a map-side partial aggregate:\n$p")
  }

  test("pipe_mixture: row-local resampling — no exchange anywhere") {
    val p = plan("pipe_mixture")
    assert(!p.contains("Exchange"),
      s"mixture sampling must stay below any shuffle:\n$p")
  }

  test("ann_pq: ADC scans the code lake (no embeddings), rerank is TakeOrdered-bounded") {
    val df = SparkEntry.queries("ann_pq")(spark, sf)
    df.collect() // first call in a session builds the code lake
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    assert("emb_pq[^\\n]*ReadSchema: struct<vec_id:bigint,code".r.findFirstIn(p).isDefined,
      s"ADC stage must scan the code lake's (vec_id, code) only:\n$p")
    assert(!"emb_pq[^\\n]*embedding".r.findFirstIn(p).isDefined,
      s"ADC stage must not read embeddings from the code lake:\n$p")
  }

  test("ann_sq8: asymmetric scan reads the code lake only, shortlist is TakeOrdered-bounded") {
    val df = SparkEntry.queries("ann_sq8")(spark, sf)
    df.collect() // first call in a session builds the code lake
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    assert("emb_sq8[^\\n]*ReadSchema: struct<vec_id:bigint,code".r.findFirstIn(p).isDefined,
      s"asymmetric stage must scan the code lake's (vec_id, code, norm) only:\n$p")
    assert(!"emb_sq8[^\\n]*embedding".r.findFirstIn(p).isDefined,
      s"asymmetric stage must not read embeddings from the code lake:\n$p")
  }

  test("dd_semantic: pair search stays cell-equi-join shaped") {
    val p = plan("dd_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup must bound pairs by cell, not all-pairs:\n$p")
  }

  test("ann_filtered: label predicate reaches the scan; top-k stays TakeOrdered") {
    val p = plan("ann_filtered")
    assert(p.contains("EqualTo(label,3)"),
      s"label filter must be pushed to the embeddings scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"filtered search must not shuffle the corpus:\n$p")
  }

  test("q26_grouping_sets: one Expand, one partial-agg shuffle") {
    val p = plan("q26_grouping_sets")
      .split("== Initial Plan ==").head
    assert(p.contains("Expand"), s"GROUPING SETS should plan one Expand:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"aggregate must be partial before the exchange:\n$p")
  }

  test("w11_path: map-side group limit; path agg reuses the window's user exchange") {
    val p = plan("w11_path").split("== Initial Plan ==").head
    assert(p.contains("WindowGroupLimit"),
      s"literal depth bound should plan a map-side WindowGroupLimit:\n$p")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).size
    assert(userExchanges == 1,
      s"window + per-user agg must share ONE user_id exchange, got $userExchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("sp_radius_join: grid pair generation is an equi-join, never a cross join") {
    val p = plan("sp_radius_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"radius join must be the cell equi-join:\n$p")
  }

  test("st_ks: ECDF prefix sums run per-stripe, not on one partition") {
    val p = plan("st_ks")
    // the distinct-value frame's running sums are hash-partitioned by
    // stripe; only the ≤256-row stripe-offset frame may single-partition
    assert(p.contains("Exchange hashpartitioning(__stripe"),
      s"within-stripe cumsum must partition by stripe:\n$p")
    // both group predicates reach the parquet scan
    assert(p.contains("In(event_type"),
      s"event_type IN filter should push to the scan:\n$p")
  }

  test("w13_rfm: no global ranking window; quintile bounds ride a broadcast") {
    val p = plan("w13_rfm")
    assert(!"\\bntile\\(".r.findFirstIn(p).isDefined &&
      !"\\bWindow\\b".r.findFirstIn(p).isDefined,
      s"RFM scoring must not rank the user frame through a window:\n$p")
    // every SinglePartition exchange carries a post-partial-agg row,
    // never the user frame itself
    assert(p.contains("partial_percentile") || p.contains("ObjectHashAggregate"),
      s"quintile bounds must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"boundary row should broadcast back onto the user frame:\n$p")
  }

  test("w12_markov: one user exchange; transition counting partial-aggregates") {
    val p = plan("w12_markov")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"lead window should be the only user_id shuffle:\n$p")
    assert(p.contains("partial_count"),
      s"(from, to) counting should partial-aggregate map-side:\n$p")
  }

  test("ts_xcorr + ts_seasonal: scans collapse to partial aggregates before wide work") {
    val px = plan("ts_xcorr")
    assert(px.contains("partial_avg") || px.contains("partial_sum"),
      s"hourly resample must be a map-side partial aggregate:\n$px")
    assert(px.contains("In(event_type"),
      s"series filter should push to the scan:\n$px")
    val ps = plan("ts_seasonal")
    assert(ps.contains("partial_sum"),
      s"moment cells must partial-aggregate map-side:\n$ps")
    assert(ps.contains("BroadcastHashJoin"),
      s"components must broadcast back onto the events scan:\n$ps")
    assert(!ps.contains("SortMergeJoin"),
      s"the events payload must never shuffle for the component join:\n$ps")
  }

  test("dd_incremental_bloom: corpus fp scan is bloom-filtered below the anti-join") {
    val p = plan("dd_incremental_bloom")
    assert(p.contains("might_contain"),
      s"bloom membership filter missing from the corpus scan side:\n$p")
    assert(p.toLowerCase.contains("subquery"),
      s"the bloom should ride a scalar subquery, built once:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the anti-join must stay equi-join shaped:\n$p")
  }

  test("tpch_q3: semi-join probe, date predicates pushed, top-n via TakeOrdered") {
    val p = plan("tpch_q3")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-n must not be a global sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"l_shipdate cutoff must reach the lineitem scan:\n$p")
    assert(p.contains("LeftSemi"),
      s"the segment probe must stay a semi join (customer payload unused):\n$p")
  }

  test("tpch_q5/q10: bounded dims broadcast; no cartesian anywhere") {
    Seq("tpch_q5", "tpch_q10").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: nation/region must broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: no cartesian/BNLJ allowed:\n$p")
    }
  }

  test("tpch_q14/q18: partial-agg rollups, date pushdown, top-n via TakeOrdered") {
    val p14 = plan("tpch_q14")
    assert(p14.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"month window must reach the lineitem scan:\n$p14")
    assert(!p14.contains("CartesianProduct") && !p14.contains("BroadcastNestedLoopJoin"),
      s"q14: no cartesian/BNLJ allowed:\n$p14")
    val p18 = plan("tpch_q18")
    assert(p18.contains("TakeOrderedAndProject"),
      s"q18 top-n must not be a global sort:\n$p18")
    assert(p18.contains("partial_sum"),
      s"the HAVING rollup must partial-aggregate map-side:\n$p18")
  }

  test("tpch_q12: ship-year pushed to the scan; conditional counts partial-agg") {
    val p = plan("tpch_q12")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"ship-date year must reach the lineitem scan:\n$p")
    assert(p.contains("partial_sum"),
      s"casewhen counts must partial-aggregate before the exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q12: equi-join only:\n$p")
  }

  test("tpch_q7/q8: dims pruned pre-join; equi-joins only") {
    val p7 = plan("tpch_q7")
    assert(p7.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"q7: ship-year window must reach the lineitem scan:\n$p7")
    assert(!p7.contains("CartesianProduct") && !p7.contains("BroadcastNestedLoopJoin"),
      s"q7: the (A,B)/(B,A) disjunction must not become a cross-table join condition:\n$p7")
    val p8 = plan("tpch_q8")
    assert(p8.contains("LeftSemi"),
      s"q8: part-type and region prunes must stay semi joins:\n$p8")
    assert(!p8.contains("CartesianProduct") && !p8.contains("BroadcastNestedLoopJoin"),
      s"q8: equi-joins only:\n$p8")
  }

  test("tpch_q13/q17/q21/q22: quantifier joins keep their outer/semi/anti shapes") {
    val p13 = plan("tpch_q13")
    assert(p13.contains("LeftOuter"),
      s"q13: the zero bucket needs a count-preserving LEFT OUTER:\n$p13")
    assert(p13.contains("partial_count"),
      s"q13: per-customer counts must partial-aggregate:\n$p13")
    val p17 = plan("tpch_q17")
    assert(p17.contains("LeftSemi"),
      s"q17: the brand prune must stay a semi join:\n$p17")
    assert(!p17.contains("CartesianProduct") && !p17.contains("BroadcastNestedLoopJoin"),
      s"q17: the decorrelated threshold joins on partkey only:\n$p17")
    val p21 = plan("tpch_q21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"q21: EXISTS/NOT-EXISTS must stay hash semi/anti joins:\n$p21")
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"),
      s"q21: the supplier inequality must ride as a residual condition:\n$p21")
    val p22 = plan("tpch_q22")
    assert(p22.contains("LeftAnti"),
      s"q22: 'never urgent' must stay a hash anti join:\n$p22")
  }

  test("tpch_q1/q6: single-pass partial aggs; every predicate reaches the scan") {
    val p1 = plan("tpch_q1")
    assert(p1.contains("partial_sum"),
      s"q1: the eight aggregates must partial-aggregate map-side:\n$p1")
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q1: the cutoff must reach the lineitem scan:\n$p1")
    val p6 = plan("tpch_q6")
    assert(p6.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"q6: all three band predicates must reach the parquet scan:\n$p6")
    assert(p6.contains("partial_sum"),
      s"q6: the what-if revenue is one map-side partial sum:\n$p6")
    assert(!p6.contains("Exchange hashpartitioning"),
      s"q6: a 1-row global agg needs no hash exchange:\n$p6")
  }

  test("tpch_q2/q20: per-part threshold is a window over the pre-combined pair frame") {
    Seq("tpch_q2" -> "Window [min(unit_cost", "tpch_q20" -> "Window [avg(qty").foreach {
      case (q, wfn) =>
        val p = plan(q)
        assert(p.contains("TakeOrderedAndProject") || q == "tpch_q20",
          s"$q: top-n must not be a global sort:\n$p")
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q: equi-joins only:\n$p")
        assert(p.contains(wfn),
          s"$q: the per-part threshold must be a window fn, not a joined-back agg frame:\n$p")
        assert(p.contains("partial_min") || p.contains("partial_sum"),
          s"$q: the (part, supplier) rollup must combine map-side, so every"
            + s" shuffle after the scan carries pair-sized rows:\n$p")
    }
  }

  test("tpch_q4/q16: quantifiers stay hash semi/anti joins on keys only") {
    val p4 = plan("tpch_q4")
    assert(p4.contains("LeftSemi"),
      s"q4: EXISTS must stay a hash semi join:\n$p4")
    assert(p4.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"q4: the quarter window must reach the orders scan:\n$p4")
    val p16 = plan("tpch_q16")
    assert(p16.contains("LeftAnti"),
      s"q16: NOT IN over non-null keys must stay a hash anti join:\n$p16")
    assert(p16.contains("partial_count(distinct"),
      s"q16: count(DISTINCT supp) must partial-aggregate per (bucket, supp):\n$p16")
  }

  test("tpch_q9/q11: bounded dims broadcast; scalar threshold broadcast, no second scan") {
    val p9 = plan("tpch_q9")
    assert(p9.contains("BroadcastHashJoin"),
      s"q9: nation must broadcast:\n$p9")
    assert(!p9.contains("CartesianProduct") && !p9.contains("BroadcastNestedLoopJoin"),
      s"q9: equi-joins only:\n$p9")
    // Audit q11 with a fraction low enough to survive at the spec's tiny
    // SF (the contract default leaves 0 rows here and AQE would collapse
    // the whole tree to EmptyRelation, hiding the shape under test).
    val q11 = graft.operators.Tpch.q11(Tables.lineitem(spark, sf),
      Tables.supplier(spark, sf), Tables.nation(spark, sf),
      nationName = "NATION_3", fraction = 0.0001)
    q11.collect()
    val p11 = q11.queryExecution.executedPlan.toString
    assert(p11.contains("BroadcastExchange"),
      s"q11: the 1-row total must broadcast back onto the per-part frame:\n$p11")
    assert(p11.contains("ReusedExchange"),
      s"q11: AQE must reuse the per-part rollup exchange for the threshold"
        + s" branch (one lineitem scan, not two):\n$p11")
  }

  test("q32_dpp_join: the fact scan carries a dynamic partition pruning filter") {
    val p = plan("q32_dpp_join")
    assert(p.contains("dynamicpruning"),
      s"the partitioned fact scan must prune AT RUNTIME from the dim"
        + s" filter (PartitionFilters: dynamicpruningexpression):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the calendar dim must broadcast:\n$p")
  }

  test("q33_runtime_filter: the dim filter reaches the fact scan as a runtime bloom") {
    // injection is gated on the fact scan exceeding 10 GB (a real-lake
    // threshold); lower it HERE so the audit proves the plan this query
    // produces at 100 TB — the contract result is threshold-independent
    val k = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "0")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    try {
      val p = plan("q33_runtime_filter")
      assert(p.contains("might_contain"),
        s"the selective dim side must inject a runtime bloom filter into"
          + s" the fact scan (rows drop BEFORE the rollup shuffle):\n$p")
      assert(p.contains("SortMergeJoin"),
        s"the merge hint must hold (broadcast would make the bloom moot):\n$p")
      assert(p.contains("partial_sum"),
        s"the per-order rollup the bloom protects must partial-aggregate:\n$p")
    } finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("pipe_e2e: one job; accounting branches reuse the shared stage exchanges") {
    val p = finalPlan("pipe_e2e")
    assert(p.contains("ReusedExchange"),
      s"stage-count branches must reuse the shared dedup/contamination"
        + s" exchanges, not recompute the prefix per counter:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every quantifier in the pipeline is an equi semi/anti join:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"exact-dedup keep (semi) and decontaminate (anti) shapes:\n$p")
  }

  test("dd_fuzzy: candidates come from equi-joins only (no cartesian/BNLJ)") {
    val p = plan("dd_fuzzy")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy blocking must stay equi-join shaped:\n$p")
  }

  test("gr_pagerank: iterative joins stay equi-shaped with partial aggs") {
    val p = plan("gr_pagerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_sum"),
      s"per-dst contribution sums must partial-aggregate map-side:\n$p")
  }

  test("dwh_mv_refresh merges partially; st_corr_matrix is one join-free scan") {
    assert(plan("dwh_mv_refresh").contains("partial_sum"))
    val cm = plan("st_corr_matrix")
    assert(!cm.contains("Join"),
      s"the correlation matrix must be ONE pass, no joins:\n$cm")
  }

  test("tx_collocations: top-k is TakeOrderedAndProject, not a global sort") {
    assert(plan("tx_collocations").contains("TakeOrderedAndProject"))
  }

  test("w14/w15/w16: exactly one user_id exchange feeds each window chain") {
    Seq("w14_rolling_distinct", "w15_range_frame", "w16_rolling_median")
      .foreach { q =>
        val p = plan(q)
        val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
        assert(n == 1, s"$q: expected exactly 1 user_id exchange, got $n:\n$p")
      }
  }

  test("pipe_chunk is fully row-local: zero exchanges, zero windows") {
    val p = plan("pipe_chunk")
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"chunking must not shuffle or sort:\n$p")
  }

  test("w19_attribution: min-struct first touch, no window sort") {
    val p = plan("w19_attribution")
    assert(!p.contains("Window"),
      s"first touch must come from min(struct), not a ranking window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"the per-user pass must combine map-side:\n$p")
  }

  test("st_jarque_bera/st_cohens_d/ts_burstiness: one partial-agg moment pass") {
    val jb = plan("st_jarque_bera")
    assert(jb.contains("partial_"), s"jb must partial-aggregate:\n$jb")
    assert(!jb.contains("Join"), s"jb is ONE pass, no joins:\n$jb")
    // the k×k pair join runs AFTER aggregation on the k-row stat frame —
    // the inequality condition makes it a BNLJ by design (st_ttest shape);
    // what must hold is that the corpus itself never feeds a nested loop
    val cd = plan("st_cohens_d")
    assert(cd.contains("partial_"), s"cohens_d must partial-aggregate:\n$cd")
    assert("BroadcastNestedLoopJoin".r.findAllIn(cd).size == 1 &&
      !cd.contains("CartesianProduct"),
      s"only the k-row stat-frame pair join may nest:\n$cd")
    val b = plan("ts_burstiness")
    // exchange 1: the (event_type, day) window sort; exchange 2: the
    // 5-row-per-partition rollup — keyed differently, necessarily separate
    val n = "Exchange hashpartitioning\\(event_type".r.findAllIn(b).size
    assert(n <= 2, s"burstiness: lag+lead share one window exchange, " +
      s"rollup adds at most one more, got $n:\n$b")
    assert("Window".r.findAllIn(b).size <= 2 &&
      b.contains("partial_"), s"burstiness rollup must combine map-side:\n$b")
  }

  test("gr_assortativity: degree joins equi-shaped on the checkpointed edges") {
    val p = plan("gr_assortativity")
    // the doubled edge frame is checkpointed before its three consumers,
    // so the post-checkpoint plan must be pure equi-join + partial agg —
    // zero nested loops (the mining's scalar gate ran at checkpoint time)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"degree joins must stay hash/SMJ-shaped:\n$p")
    assert(p.contains("partial_"), s"moment sums must combine map-side:\n$p")
  }

  test("ts_m4 is ONE partial-agg pass: no window, single exchange") {
    val p = plan("ts_m4")
    assert(!p.contains("Window"), s"M4 must not sort — struct min/max:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
      p.contains("partial_"), s"one combining shuffle only:\n$p")
  }

  test("q31_mom_growth: rollup shuffle + priority window, nothing wider") {
    val p = plan("q31_mom_growth")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2 &&
      p.contains("partial_sum"),
      s"corpus collapses before the lag window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"the lag must partition by priority, never one task:\n$p")
  }

  test("tx_jsd: corpus scanned once; only the 1-row total broadcast nests") {
    val p = plan("tx_jsd")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1 &&
      !p.contains("CartesianProduct"),
      s"only the totals broadcast may nest:\n$p")
    assert(p.contains("partial_"), s"token counts must combine map-side:\n$p")
  }

  test("w21_concurrency: sweep is windowed by day, no single-partition sort") {
    val p = plan("w21_concurrency")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"global sweep must not collapse to one partition:\n$p")
  }

  test("snk_zorder: clustering is a RANGE shuffle, never a global sort") {
    // audit the write-side plan: range partitioning on the z value with
    // an in-partition (global=false) sort; a global sort would re-shuffle
    val wp = sources.Lake.zorderCluster(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", files = 8)
      .queryExecution.executedPlan.toString
    assert(wp.contains("Exchange rangepartitioning(__z"), wp)
    val globalSorts = wp.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("], true,")).toList
    assert(globalSorts.isEmpty, globalSorts.mkString("\n"))
  }

  test("q19_asof_native: custom exec node, one exchange+sort per side") {
    val df = SparkEntry.queries("q19_asof_native")(spark, sf)
    df.collect()
    // AQE's toString prints final AND initial plans — audit the final one
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("AsOfJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("tx_perplexity: fence banding broadcasts, never a sort-merge join") {
    val p = plan("tx_perplexity")
    assert(!p.contains("SortMergeJoin"),
      s"model joins must stay broadcast at this scale:\n$p")
    assert(p.contains("partial_"),
      s"CE weighted mean must combine map-side:\n$p")
  }

  test("st_quantile_merge: partials combine map-side; merge window is sketch-sized") {
    val p = plan("st_quantile_merge")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"day-bucket partials must combine map-side:\n$p")
    // the ONLY single-partition collapse allowed is the ≤nBins cumulative
    // window + its rollups — the data-sized (day, bucket) rollup must
    // hash-partition
    assert(p.contains("Exchange hashpartitioning"),
      s"partial rollup must stay distributed:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"q-band join must broadcast the sketch side:\n$p")
  }

  test("src_manifest_skip: pruned read scans a subset and combines map-side") {
    val df = SparkEntry.queries("src_manifest_skip")(spark, sf)
    val lake = spark.read.parquet(
      s"target/graft_io/${new java.io.File(sf).getName}/manifest_lineitem")
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.length < lake.inputFiles.length,
      s"manifest must skip files: read ${df.inputFiles.length} of ${lake.inputFiles.length}")
    assert(plan("src_manifest_skip").contains("partial_"),
      "rollup over surviving files must combine map-side")
  }

  test("gr_closeness: landmark BFS joins are never cartesian") {
    val p = plan("gr_closeness")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"frontier expansion must stay equi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k centrality must not globally sort:\n$p")
  }

  test("ml_nb: model join is hash, class replication broadcasts k rows") {
    val p = plan("ml_nb")
    // the only data-sized join (token→model) must be a hash join, and
    // the k-class replication must ride a broadcast, never a shuffle
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"model lookup must be an equi-join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"class axis must broadcast (k rows), never cartesian-shuffle:\n$p")
    assert(p.contains("partial_count"),
      s"training counts must combine map-side:\n$p")
  }

  test("st_kruskal: rank machinery never globally sorts the raw scan") {
    val p = plan("st_kruskal")
    // windows may sort the distinct-value frame; the raw events scan
    // must reach its first aggregate through partial aggregation only
    assert(p.contains("partial_count"),
      s"value collapse must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"midrank join must stay equi/broadcast:\n$p")
  }

  test("ts_backtest: corpus collapses map-side before any window") {
    val p = plan("ts_backtest")
    assert(p.contains("partial_"),
      s"hourly rollup must combine map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"train-edge stats must ride back as a broadcast:\n$p")
  }

  test("ml_knn_eval: probe slice broadcasts, the corpus is never shuffle-joined") {
    val p = plan("ml_knn_eval")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the sampled probe side must ride as a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus scan must never shuffle for the probe join:\n$p")
  }

  test("st_boxcox: the whole lambda grid rides ONE scan with partial aggregation") {
    val df = SparkEntry.queries("st_boxcox")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"),
      s"grid moments must combine map-side:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"one scan for all lambdas, found $scans:\n$p")
  }

  test("dwh_drill_across: both facts collapse map-side before the conformed merge") {
    val p = plan("dwh_drill_across")
    assert(p.contains("partial_count"),
      s"per-fact rollups must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the summary merge must stay an equi-join:\n$p")
  }

  test("ml_ndcg: both rank windows share ONE exchange on the query key") {
    val p = plan("ml_ndcg")
    // rank-by-score and rank-by-rel partition identically → Catalyst
    // plans a single hashpartitioning(query) exchange, not two
    assert(p.split("Exchange hashpartitioning")
      .length - 1 == 1, s"expected exactly one query-key exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition") ||
      p.contains("partial"), s"no global window allowed:\n$p")
  }

  test("ml_cost_threshold: threshold fan-out reads the checkpointed 1-row agg, not the corpus") {
    val p = plan("ml_cost_threshold")
    // the single corpus scan happened at checkpoint time; every union
    // branch must read the materialized 1-row frame — zero parquet
    // scans inside the fan-out plan
    assert(p.split("Scan parquet").length - 1 == 0,
      s"the ladder must not rescan the corpus per threshold:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"branches must read the checkpointed aggregate:\n$p")
  }

  test("ts_bollinger: hourly collapse partial-aggregates before the rolling window") {
    val p = plan("ts_bollinger")
    assert(p.contains("partial_"),
      s"the corpus must collapse map-side to hours first:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"windows must partition per series, never globally:\n$p")
  }

  test("gr_squares: pair candidates come from an equi-join, never a cross product") {
    val p = plan("gr_squares")
    assert(!p.contains("CartesianProduct"),
      s"wedge pairing must stay an equi-join on the shared neighbor:\n$p")
  }

  test("entry flagship runs and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Per-stage shuffle-write record counts for everything run inside
    * `fn` — the loop-frame audit the plan string can't give (iterative
    * operators materialize each round in its own query execution, so
    * the final plan only shows the last stage). */
  private def stageShuffleWrites(fn: => Unit): Seq[Long] = {
    val byStage = scala.collection.concurrent.TrieMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleWriteMetrics != null)
          byStage.updateWith(t.stageId)(v => Some(v.getOrElse(0L) +
            m.shuffleWriteMetrics.recordsWritten))
      }
    }
    // drain events queued by earlier actions (e.g. the warm-up run):
    // the async bus delivers queued events to every listener attached
    // at processing time, which would leak the edge-build stages in
    org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { fn; org.apache.spark.GraftListenerFlush.flush(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    byStage.values.toSeq
  }

  /** Directed edge count of the co-purchase graph the gr_* contract
    * queries run on — recomputed here (the builder is private) so the
    * loop locks below compare against the STRUCTURAL bound, not a
    * magic number. */
  private def coPurchaseEdgeCount: Long = {
    val o = Tables.orders(spark, sf)
    val l = Tables.lineitem(spark, sf)
    2L * o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
  }

  test("gr_betweenness: every loop-round frame stays edge-graph-bounded") {
    // warm the memoized edge build so the measured window is the
    // Brandes loop itself (the one legitimate corpus-scale pass)
    SparkEntry.queries("gr_betweenness")(spark, sf).collect()
    val writes = stageShuffleWrites {
      SparkEntry.queries("gr_betweenness")(spark, sf).collect()
    }
    // structural bound: the σ-BFS propagation join fans out to at most
    // nSources(=4) × directed edges per round; frontier/settled frames
    // are (source, node) pairs — strictly smaller. A stage above the
    // bound means the loop re-derived graph data from the raw corpus
    // or lost its map-side combine — the drift this lock exists to
    // catch (measured: 5062 vs bound 11552 at sf0.001)
    val bound = 4L * coPurchaseEdgeCount
    assert(writes.nonEmpty, "the Brandes loop must actually shuffle")
    assert(writes.max <= bound,
      s"a loop stage shuffled ${writes.max} records (bound=$bound):" +
        " per-round frames must stay sources×edges-bounded")
  }

  test("gr_ppr / tx_textrank: iterative rank frames stay graph-sized, never corpus-sized") {
    SparkEntry.queries("gr_ppr")(spark, sf).collect() // warm edge memo
    val ppr = stageShuffleWrites {
      SparkEntry.queries("gr_ppr")(spark, sf).collect()
    }
    // rank mass flows along edges: one record per directed edge per
    // round, plus node-sized rank frames (measured: max == edge count)
    val bound = 2L * coPurchaseEdgeCount
    assert(ppr.max <= bound,
      s"gr_ppr loop stage shuffled ${ppr.max} records (bound=$bound)")
    // textrank re-tokenizes per query (self-contained contract) but
    // every shuffle is post-map-side-combine: vocab/pair-sized, never
    // one record per corpus TOKEN (~25x word-count amplification would
    // trip this immediately)
    val tokens = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .count()
    val tx = stageShuffleWrites {
      SparkEntry.queries("tx_textrank")(spark, sf).collect()
    }
    assert(tx.max < tokens,
      s"tx_textrank stage shuffled ${tx.max} records (tokens=$tokens):" +
        " word-graph frames must combine map-side")
  }

  test("tx_rake: top-N phrases via TakeOrderedAndProject, no cartesian") {
    val p = plan("tx_rake")
    assert(p.contains("TakeOrderedAndProject"), s"tx_rake:\n$p")
    assert(!p.contains("CartesianProduct"), s"tx_rake:\n$p")
  }

  test("ts_matrix_profile / sp_getis_ord: pair and hood frames come from " +
      "equi-joins, never cartesian/BNLJ fallbacks") {
    // the matrix-profile pair frame must ride the (type, position)
    // equi-join; a refactor to a windowed cross join is the quadratic
    // trap the design avoids
    val p1 = plan("ts_matrix_profile")
    assert(!p1.contains("CartesianProduct"), s"ts_matrix_profile:\n$p1")
    assert(!p1.contains("BroadcastNestedLoopJoin"),
      s"ts_matrix_profile:\n$p1")
    // Gi* neighborhoods: 9-offset explode + shifted-cell equi-join;
    // the only BNLJ allowed is the 1-row globals broadcast
    val p2 = plan("sp_getis_ord")
    assert(!p2.contains("CartesianProduct"), s"sp_getis_ord:\n$p2")
  }

  test("pipe_scaling_law: fraction dim broadcasts; model join is the only data-sized shuffle class") {
    val p = plan("pipe_scaling_law")
    // the 4-row fraction frame must ride broadcasts, not shuffles
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"pipe_scaling_law:\n$p")
    assert(!p.contains("CartesianProduct"), s"pipe_scaling_law:\n$p")
  }

  test("ann_l2: corpus never hash-shuffled, top-k via TakeOrdered on " +
      "the exact integer distance") {
    val p = plan("ann_l2")
    assert(p.contains("TakeOrderedAndProject"), s"ann_l2:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"ann_l2:\n$p")
  }

  test("tx_coverage: each vocab budget is a TakeOrdered tree aggregate, " +
      "never a single-partition window over the vocabulary") {
    val p = plan("tx_coverage")
    assert(p.contains("TakeOrderedAndProject"), s"tx_coverage:\n$p")
    assert(!p.contains("Window"), s"tx_coverage:\n$p")
  }

  test("tx_novelty / sp_mantel: gram and cell pair frames come from " +
      "equi-joins and bounded lattices, never corpus cross products") {
    // novelty: gram-keyed min rollup + equi-join back — a cartesian
    // over (doc, gram) would be the quadratic trap
    val p1 = plan("tx_novelty")
    assert(!p1.contains("CartesianProduct"), s"tx_novelty:\n$p1")
    // mantel: the all-pairs frame is lattice-bounded by construction;
    // the lexicographic i<j runs as a join over the tiny cell frame —
    // assert no exchange ever carries the CUSTOMER corpus twice by
    // checking the pair side reads the aggregated cell frame (exactly
    // one corpus-sized exchange: the cell rollup, reused via AQE)
    val p2 = finalPlan("sp_mantel")
    assert(!p2.contains("CartesianProduct"), s"sp_mantel:\n$p2")
  }

  test("q36_hierarchy: pointer doubling pays log-depth joins, with no " +
      "per-level corpus re-scan surviving into the final plan") {
    // the aggregate runs over the checkpointed settled frame: the
    // executed plan must read the localCheckpoint scan, not re-derive
    // the join tower (lineage cut = the CC discipline)
    val p = plan("q36_hierarchy")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"q36_hierarchy:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q36_hierarchy:\n$p")
  }

  test("dd_ngram_jaccard (r10 cap): pairs stay equi-joined, and the " +
      "pair plan reads the shingle SNAPSHOT, not a re-hash of the corpus") {
    // the stop-shingle machinery must not re-derive ShingleHashes per
    // branch: the pair self-join's two sides read the localCheckpoint
    // scan, and candidate generation never degrades to a cartesian
    val p = plan("dd_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), s"dd_ngram_jaccard:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"dd_ngram_jaccard:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"dd_ngram_jaccard:\n$p")
  }

  test("pipe_decon_embed / tx_boilerplate: probe/census joins are " +
      "hash equi-joins, never an all-pairs loop") {
    val p1 = plan("pipe_decon_embed")
    // the probe side is an explicit 1-frame broadcast over one corpus
    // scan — a BNLJ on a non-equi condition would be the quadratic bug
    assert(p1.contains("BroadcastNestedLoopJoin") ||
      p1.contains("CartesianProduct"),
      s"probe broadcast expected (bounded side):\n$p1")
    assert(p1.contains("BroadcastExchange"), s"pipe_decon_embed:\n$p1")
    val p2 = plan("tx_boilerplate")
    assert(!p2.contains("CartesianProduct"), s"tx_boilerplate:\n$p2")
    // df census + hot join ride the gram key: equi-joins only
    assert(!p2.contains("BroadcastNestedLoopJoin"), s"tx_boilerplate:\n$p2")
  }

  test("sp_lisa / sp_hexbin / sp_idw: lattice rollups partial-agg; " +
      "the IDW probe frame is a literal broadcast") {
    val p1 = plan("sp_lisa")
    assert(p1.contains("partial_count") || p1.contains("partial_sum"),
      s"sp_lisa:\n$p1")
    assert(!p1.contains("CartesianProduct"), s"sp_lisa:\n$p1")
    val p2 = plan("sp_hexbin")
    assert(p2.contains("TakeOrderedAndProject"), s"sp_hexbin:\n$p2")
    val p3 = plan("sp_idw")
    assert(p3.contains("BroadcastExchange"), s"sp_idw:\n$p3")
  }

  test("q41_variant: the variant path stays one partial-agg pass " +
      "(parse once, no per-access JSON re-parse shuffle)") {
    val p = plan("q41_variant")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"q41_variant:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one exchange, got $n:\n$p")
  }
}
