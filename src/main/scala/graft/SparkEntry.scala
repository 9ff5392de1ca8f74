package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §5 (oracle
  * discipline). Every implemented operator registers a query here; the
  * driver replays `oracleSql` in DuckDB over the same parquet tables and
  * hash-compares. Column names are aliased identically on both sides and
  * doubles are rounded on both sides (see SURVEY §5).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  // ---- one-off per-session index builds (ANN lakes, dedup store) ----
  // A real deployment builds an index once per corpus version and probes
  // it many times; the contract mirrors that: first use in a session
  // builds, every later call is a pure probe.
  private val annPlanes = SimilaritySearch.seededPlanes(4, 64)
  private val lshIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Seq[Double]])]()
  private val dedupIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def lshIndex(s: SparkSession, d: String): String =
    lshIndexCache.computeIfAbsent(d, dir => {
      val p = scratch(dir, "emb_lake")
      SimilaritySearch.buildLshIndex(Tables.embeddings(s, dir), annPlanes, p)
      p
    })

  private def ivfIndex(s: SparkSession, d: String): (String, Seq[Seq[Double]]) =
    ivfIndexCache.computeIfAbsent(d, dir => {
      val p = scratch(dir, "emb_ivf")
      val cb = SimilaritySearch.buildIvfIndex(Tables.embeddings(s, dir), 16, p)
      (p, cb)
    })

  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Seq[Seq[Double]]])]()

  private def pqIndex(s: SparkSession, d: String): (String, Seq[Seq[Seq[Double]]]) =
    pqIndexCache.computeIfAbsent(d, dir => {
      val p = scratch(dir, "emb_pq")
      // m=16/ksub=16 measured recall 1.0 @ rerank=50 on the synthetic
      // corpus (m=8 dropped to 0.4-0.5); 16 B codes vs 256 B vectors
      val cbs = ProductQuantization.buildPqIndex(Tables.embeddings(s, dir),
        m = 16, ksub = 16, p)
      (p, cbs)
    })

  private val sq8IndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, (Seq[Double], Seq[Double]))]()

  private def sq8Index(s: SparkSession, d: String): (String, (Seq[Double], Seq[Double])) =
    sq8IndexCache.computeIfAbsent(d, dir => {
      val p = scratch(dir, "emb_sq8")
      val bounds = ScalarQuantization.buildSq8Index(Tables.embeddings(s, dir), p)
      (p, bounds)
    })

  /** Historical-corpus split for the incremental-dedup entries: docs
    * with doc_id % 5 != 0 are the existing corpus, % 5 == 0 the new
    * batch — scale-independent and DuckDB-expressible. */
  private def dedupIndex(s: SparkSession, d: String): String =
    dedupIndexCache.computeIfAbsent(d, dir => {
      import org.apache.spark.sql.functions.col
      val p = scratch(dir, "dedup_index")
      IncrementalDedup.buildDedupIndex(
        Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0), p)
      p
    })

  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** One-off bucketed layout of the two fact tables on the join key —
    * the write-time shuffle that makes every later orders⋈lineitem join
    * exchange-free (Scale.writeBucketed). */
  private def bucketedTables(s: SparkSession, d: String): (String, String) =
    bucketedCache.computeIfAbsent(d, dir => {
      val tag = new java.io.File(dir).getName.replaceAll("[^a-zA-Z0-9]", "_")
      val (ot, lt) = (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
      Scale.writeBucketed(Tables.orders(s, dir), ot, "o_orderkey", 8,
        Some(scratch(dir, "bucketed_orders")))
      Scale.writeBucketed(Tables.lineitem(s, dir), lt, "l_orderkey", 8,
        Some(scratch(dir, "bucketed_lineitem")))
      (ot, lt)
    })

  /** Force the per-session one-off index builds so benchmark timings
    * measure probe cost (the per-query number an index amortized over a
    * session actually has), not build+probe fused. */
  def warmIndexes(s: SparkSession, d: String): Unit = {
    lshIndex(s, d); ivfIndex(s, d); pqIndex(s, d); sq8Index(s, d)
    dedupIndex(s, d); bucketedTables(s, d); manifestLake(s, d)
    bpeMerges(s, d)
    // mined graphs are one-off session builds too (localCheckpoint):
    // the gr_* numbers to record are analytic cost over the edge list.
    // r15: the directed/succession graphs joined the warm set — they
    // were lazily built by their first consumer (gr_hits, gr_scc,
    // gr_reciprocity charged the BUILDER to the analytic number,
    // unlike the other four mined graphs), and every edge frame must
    // predate the bench loop so its checkpoint survives the per-query
    // block drain (Bench.scala)
    coPurchaseEdges(s, d); coSupplyEdges(s, d)
    repeatBusinessEdges(s, d, 4); repeatBusinessEdges(s, d, 2)
    repeatBusinessDirected(s, d, 2); repeatBusinessDirected(s, d, 3)
    supplierSuccessionEdges(s, d)
  }

  // ---- per-session mined graphs (the gr_* family's shared input) ----
  // A feature pipeline mines its interaction graph ONCE per corpus
  // version and runs the whole analytics suite over the materialized
  // edge list; the contract mirrors that exactly like the ANN indexes:
  // first gr_* query in a session materializes (localCheckpoint — the
  // builder's scan/join/threshold work is paid once), every later
  // analytic consumes the edge frame directly. Contents are identical
  // to the uncached builders, so oracles are unaffected.
  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.DataFrame]()

  private def cachedEdges(key: String)(
      build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edgeCache.computeIfAbsent(key, _ => build.localCheckpoint(true))

  /** Every RDD id reachable from a session-scoped cached frame
    * (edgeCache), for the bench's block drain to exclude by OWNERSHIP
    * rather than creation time (r15 ADVICE hardening): a session cache
    * entry lazily built INSIDE the timed loop would otherwise be
    * unpersisted after its first consumer, and localCheckpoint
    * truncates lineage — every later consumer would fail with a
    * missing checkpoint block instead of recomputing. Walking the RDD
    * dependency chain catches the persisted internal RDD behind the
    * LogicalRDD wrapper (df.rdd itself is a deserialize
    * MapPartitionsRDD over it). Cheap: the cache holds a handful of
    * frames, each with a 1-2 node lineage. */
  def sessionCacheRddIds: Set[Int] = {
    val seen = scala.collection.mutable.Set[Int]()
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    edgeCache.values.forEach(df => walk(df.rdd))
    seen.toSet
  }

  /** Day-partitioned events lake for the dynamic-partition-pruning
    * contract query (one-off per session like the ANN index lakes). */
  private val dppLakeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dppLake(s: SparkSession, d: String): String =
    dppLakeCache.computeIfAbsent(d, dir => {
      import org.apache.spark.sql.functions.{col, to_date}
      val p = scratch(dir, "dpp_events")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          to_date(col("ts")).as("day"))
        .write.mode("overwrite").partitionBy("day").parquet(p)
      p
    })

  /** Range-clustered lineitem lake + its file-stats manifest for the
    * manifest-skipping contract query (one-off per session like the ANN
    * index lakes). repartitionByRange gives each file a tight
    * l_orderkey band, so the manifest actually skips. */
  private val manifestLakeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Bloom-manifest lake: clustered on l_quantity so the point-lookup
    * key (l_orderkey) sprays across every file — exactly the layout
    * where min/max skipping is useless and only the Bloom prunes. */
  private val bloomLakeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def bloomLake(s: SparkSession, d: String): (String, String) =
    bloomLakeCache.computeIfAbsent(d, dir => {
      import org.apache.spark.sql.functions.col
      val data = scratch(dir, "bloom_lineitem")
      val meta = scratch(dir, "bloom_lineitem_meta")
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartitionByRange(8, col("l_quantity"))
        .write.mode("overwrite").parquet(data)
      sources.Lake.buildBloomManifest(s, data, meta, "l_orderkey")
      (data, meta)
    })
  private def manifestLake(s: SparkSession, d: String): (String, String) =
    manifestLakeCache.computeIfAbsent(d, dir => {
      import org.apache.spark.sql.functions.col
      val data = scratch(dir, "manifest_lineitem")
      val meta = scratch(dir, "manifest_lineitem_meta")
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .repartitionByRange(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(data)
      sources.Lake.buildManifest(s, data, meta, Seq("l_orderkey"))
      (data, meta)
    })

  /** Session-cached BPE merge table (the tokenizer artifact): trained
    * once per corpus like the ANN indexes; tx_bpe_apply is pure
    * inference over it. */
  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def bpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    bpeMergesCache.computeIfAbsent(d, dir =>
      operators.Bpe.trainMerges(Tables.documents(s, dir), 12)
        .orderBy("merge_rank").collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
        .toIndexedSeq)

  /** Undirected customer↔supplier co-purchase graph (who bought from
    * whom, via orders⋈lineitem): supplier ids offset into their own key
    * space, each distinct pair contributes both directions. */
  private def coPurchaseEdges(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = cachedEdges(s"copurchase:$d") {
    import org.apache.spark.sql.functions._
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"),
        (col("l_suppkey") + 1000000000L).as("b"))
      .distinct()
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Strong-tie supplier co-occurrence graph (suppliers filling the
    * same order, kept only when the pair count exceeds the exact p90 of
    * the pair-count distribution). The co-purchase graph is
    * near-complete at small SF and its density drifts with scale; a
    * QUANTILE cutoff pins edge count to ~10% of observed pairs at every
    * scale, which bounds the downstream wedge joins (Σ deg² blow-up
    * measured 10.3 s at a mean-based cutoff vs ~2 s here, sf0.1). The
    * threshold rides in on a 1-row cross join (AQE broadcasts it, the
    * shared groupBy exchange is reused across the two subtrees), never
    * a driver action, so the builder stays lazy until the one-off
    * session materialization. */
  private def coSupplyEdges(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = cachedEdges(s"cosupply:$d") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(s, d)
    val pairs = li.select(col("l_orderkey").as("k1"), col("l_suppkey").as("s1"))
      .join(li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
        col("k1") === col("k2") && col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("cnt"))
    pairs
      .crossJoin(pairs.agg(expr("percentile(cnt, 0.9)").as("__t")))
      .filter(col("cnt") > col("__t"))
      .select(col("s1").as("src"), col("s2").as("dst"))
  }

  /** Bipartite repeat-business graph: customer↔supplier edges kept when
    * the pair shares ≥ `minOrders` distinct orders — sparse enough to
    * fragment into components (unlike the full co-purchase graph),
    * threshold per consumer. */
  private def repeatBusinessEdges(s: SparkSession, d: String,
      minOrders: Int): org.apache.spark.sql.DataFrame =
    cachedEdges(s"repeat:$minOrders:$d") {
      import org.apache.spark.sql.functions._
      val pairs = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("a"),
          (col("l_suppkey") + 1000000000L).as("b"))
        .agg(countDistinct("o_orderkey").as("m"))
        .filter(col("m") >= minOrders)
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    }

  /** DIRECTED repeat-business graph (customer→supplier, no
    * symmetrization): the natural bipartite direction HITS needs —
    * hubs score the customer side, authorities the supplier side. */
  private def repeatBusinessDirected(s: SparkSession, d: String,
      minOrders: Int): org.apache.spark.sql.DataFrame =
    cachedEdges(s"repeatdir:$minOrders:$d") {
      import org.apache.spark.sql.functions._
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000000L).as("dst"))
        .agg(countDistinct("o_orderkey").as("m"))
        .filter(col("m") >= minOrders)
        .select("src", "dst")
    }

  /** DIRECTED supplier-succession graph: within each order, an edge
    * from each lineitem's supplier to the NEXT line's (distinct)
    * supplier in linenumber order — a directed graph with genuine
    * cycles (the same supplier pair appears in both orders in
    * different orders across the corpus), the input gr_scc needs
    * (every other graph here is symmetrized or bipartite-acyclic). */
  private def supplierSuccessionEdges(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = cachedEdges(s"succession:$d") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      .withColumn("nxt", lead("l_suppkey", 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("l_suppkey"))
      .select(col("l_suppkey").as("src"), col("nxt").as("dst"))
      .distinct()
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- B. core relational ----
    "q1_agg" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "q2_filter_project" -> ((s, d) => Relational.revenueFilter(Tables.lineitem(s, d))),
    "q3_join_broadcast" -> ((s, d) =>
      Relational.regionalRevenue(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    "q4_topn" -> ((s, d) => Relational.topOrders(Tables.orders(s, d), 10)),
    "q5_distinct" -> ((s, d) => Relational.distinctPartsPerFlag(Tables.lineitem(s, d))),
    "q6_union" -> ((s, d) => Relational.unionDistinctSegments(Tables.customer(s, d))),
    "q7_except" -> ((s, d) => Relational.exceptAllByStatus(Tables.orders(s, d), "F")),
    "q8_casewhen" -> ((s, d) => Relational.priceBands(Tables.orders(s, d))),
    "q25_intersect" -> ((s, d) =>
      Relational.intersectSegments(Tables.customer(s, d))),
    // explicit GROUPING SETS (rollup and cube's general form): one
    // Expand pass + one partial-agg shuffle, same plan family as q10/q23
    "q26_grouping_sets" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("gs_customer_v")
      Tables.nation(s, d).createOrReplaceTempView("gs_nation_v")
      Tables.region(s, d).createOrReplaceTempView("gs_region_v")
      s.sql("""SELECT r_name, n_name, count(*) AS n_cust,
                 round(sum(c_acctbal), 2) AS sum_bal
               FROM gs_customer_v c
                 JOIN gs_nation_v n ON c_nationkey = n_nationkey
                 JOIN gs_region_v r ON n_regionkey = r_regionkey
               GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())""")
    }),
    "q9_sql_view" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT o_orderpriority, count(*) AS n FROM orders_v o
               WHERE EXISTS (SELECT 1 FROM lineitem_v l
                             WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
               GROUP BY o_orderpriority""")
    }),
    "q10_rollup" -> ((s, d) =>
      Relational.revenueRollup(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    "q23_cube" -> ((s, d) =>
      Relational.revenueCube(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    // correlated scalar subquery (Catalyst decorrelates it into a join —
    // no per-row subquery execution); max-equality keeps doubles exact
    "q24_corr_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_corr_v")
      s.sql("""SELECT o_custkey, count(*) AS n_max_orders
               FROM orders_corr_v o
               WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                                     FROM orders_corr_v o2
                                     WHERE o2.o_custkey = o.o_custkey)
               GROUP BY o_custkey""")
    }),
    "q11_semijoin" -> ((s, d) =>
      Relational.customersByOrderExistence(Tables.customer(s, d), Tables.orders(s, d))),
    "q12_selfjoin" -> ((s, d) => Relational.lineitemPairCount(Tables.lineitem(s, d))),
    "q13_crossjoin_agg" -> ((s, d) =>
      Relational.regionNationCombos(Tables.region(s, d), Tables.nation(s, d))),
    "q14_pivot" -> ((s, d) => Relational.pivotEventCounts(Tables.events(s, d))),
    "q_unpivot" -> ((s, d) =>
      Relational.unpivotEventCounts(Tables.events(s, d))),
    "q15_null_handling" -> ((s, d) => Relational.nullHandling(Tables.events(s, d))),
    "q16_outer_join" -> ((s, d) =>
      Relational.customerOrderFullOuter(Tables.orders(s, d), Tables.customer(s, d))),
    "q17_parse_ts" -> ((s, d) => Relational.timestampRoundtrip(Tables.orders(s, d))),
    "q18_topk_per_group" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.functions.TopKAggregator
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(TopKAggregator.topK(3)(col("o_totalprice"), col("o_orderkey"))
          .as("top"))
        .select(col("o_orderpriority"), explode(col("top")).as("t"))
        .select(col("o_orderpriority"), col("t.score").as("o_totalprice"),
          col("t.id").as("o_orderkey"))
    }),
    // ---- C. statistics & profiling ----
    "st_describe" -> ((s, d) =>
      Stats.profile(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),
    "st_quantiles" -> ((s, d) =>
      Stats.quantiles(Tables.lineitem(s, d), "l_extendedprice", Seq(0.25, 0.5, 0.75))),
    "st_approx_quantiles" -> ((s, d) =>
      Stats.approxQuantilesDf(Tables.lineitem(s, d), "l_extendedprice",
        Seq(0.25, 0.5, 0.75))),
    "st_corr_cov" -> ((s, d) =>
      Stats.corrCov(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")),
    // r9 [oracle] flip: the salted-md5 Bernoulli sampler (weightedSample
    // at constant p) replaces Spark's partition-seeded XORShift sample —
    // same statistical contract, but deterministic across engines AND
    // partitionings, so DuckDB draws the identical subset
    "st_sample" -> ((s, d) =>
      Sampling.weightedSample(Tables.customer(s, d), "c_custkey",
          org.apache.spark.sql.functions.lit(0.1))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("sampled_rows"))),
    "st_freq_topn" -> ((s, d) => Stats.freqTopN(Tables.part(s, d), "p_brand", 10)),
    "st_histogram" -> ((s, d) =>
      Stats.histogram(Tables.orders(s, d), "o_totalprice", 0.0, 500000.0, 20)),
    // ---- D. windows & sessionization ----
    "w1_lag_change" -> ((s, d) => Windows.lagChange(Tables.events(s, d))),
    "w2_session_number" -> ((s, d) => Windows.sessionNumbers(Tables.events(s, d))),
    "w3_rownum_first" -> ((s, d) => Windows.firstEventPerUser(Tables.events(s, d))),
    "w4_rolling" -> ((s, d) => Windows.rollingValue(Tables.events(s, d))),
    "w5_session_summary" -> ((s, d) => Windows.sessionSummary(Tables.events(s, d))),
    "w6_rank_lead" -> ((s, d) => Windows.rankAndLead(Tables.events(s, d))),
    "w8_ntile" -> ((s, d) => Windows.distributionRanks(Tables.events(s, d))),
    "w9_funnel" -> ((s, d) => Windows.funnelStages(Tables.events(s, d),
      Seq("signup", "click", "purchase"))),
    "w7_nested_flatten" -> ((s, d) =>
      Windows.nestedFlattenRoundtrip(Tables.events(s, d))),
    "st_approx_distinct" -> ((s, d) =>
      Stats.approxDistinct(Tables.lineitem(s, d), "l_returnflag", "l_partkey")),
    "st_hll_merge" -> ((s, d) =>
      Stats.hllMergeProfile(Tables.lineitem(s, d), "l_returnflag", "l_partkey")),
    "st_skew_kurt" -> ((s, d) =>
      Stats.skewKurt(Tables.lineitem(s, d), "l_returnflag", "l_quantity")),
    "st_ttest" -> ((s, d) =>
      Stats.welchTTest(Tables.events(s, d), "event_type", "value")),
    "st_anova" -> ((s, d) =>
      Stats.anovaF(Tables.events(s, d), "event_type", "value")),
    "st_ols" -> ((s, d) =>
      Stats.olsRegression(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity", "l_extendedprice")),
    "st_gini" -> ((s, d) =>
      Stats.gini(Tables.orders(s, d), "o_orderpriority", "o_totalprice")),
    // ---- E. lambda pipeline (batch twins) ----
    "lam_alert_classify" -> ((s, d) => Lambda.alertClassify(Tables.events(s, d))),
    "lam_reconcile" -> ((s, d) =>
      Lambda.reconciledProfile(Tables.events(s, d))),
    "lam_daily_profile" -> ((s, d) => Lambda.dailyProfile(Tables.events(s, d))),
    "lam_records" -> ((s, d) => Lambda.records(Tables.events(s, d))),
    "lam_anomaly_join" -> ((s, d) => Lambda.anomalies(Tables.events(s, d))),
    "lam_window_agg" -> ((s, d) => Lambda.slidingWindowAgg(Tables.events(s, d))),
    "q19_asof_join" -> ((s, d) => AsOfJoin.clickAttribution(Tables.events(s, d))),
    "q19_asof_native" -> ((s, d) => AsOfJoin.clickAttributionNative(Tables.events(s, d))),
    "q20_json_extract" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // semi-structured props column: schema-on-read JSON extraction
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          max("k").as("max_k"))
    }),
    "q21_like_filter" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.part(s, d)
        .filter(col("p_type").like("%O%") && col("p_name").endsWith("t"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), max("p_size").as("max_size"))
    }),
    "q22_range_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val base = 1704067200000000L // 2024-01-01T00:00:00Z
      val intervals = Tables.nation(s, d).select(col("n_nationkey"),
        (lit(base) + col("n_nationkey") * 100800000000L).as("s_us"),
        (lit(base) + col("n_nationkey") * 100800000000L + 28800000000L).as("e_us"))
      val points = Tables.events(s, d)
        .select(unix_micros(col("ts")).as("p_us"))
      RangeJoin.pointInInterval(points, intervals, "p_us", "s_us", "e_us",
        binUs = 28800000000L)
        .groupBy("n_nationkey")
        .agg(count(lit(1)).as("n_events"), min("p_us").as("first_us"))
    }),
    "ts_hod_dow" -> ((s, d) =>
      Resample.hourDowProfile(Tables.events(s, d))),
    "ts_pacf" -> ((s, d) => Resample.pacf(Tables.events(s, d))),
    "ts_granger" -> ((s, d) => Resample.granger(Tables.events(s, d))),
    "dd_lsh_eval" -> ((s, d) =>
      SketchDedup.lshEval(Tables.documents(s, d), 3, 0.5)),
    "ts_resample" -> ((s, d) =>
      Resample.resampleWithGapFill(Tables.events(s, d), 3600000000L)),
    "ts_interpolate" -> ((s, d) =>
      Resample.resampleWithInterpolation(Tables.events(s, d), 3600000000L)),
    "ts_ewma" -> ((s, d) => Resample.ewma(Tables.events(s, d), 0.3)),
    "ts_kalman" -> ((s, d) =>
      Resample.kalmanLevel(Tables.events(s, d), q = 0.5, r = 2.0)),
    "ts_garch" -> ((s, d) =>
      Resample.garchVariance(Tables.events(s, d),
        omega = 1.0, alpha = 0.1, beta = 0.8)),
    "ts_ses_grid" -> ((s, d) => Resample.sesGrid(Tables.events(s, d))),
    "ts_binseg" -> ((s, d) =>
      Resample.binarySegmentation(Tables.events(s, d))),
    "ts_bollinger" -> ((s, d) =>
      Resample.bollingerBands(Tables.events(s, d))),
    "ts_piecewise_trend" -> ((s, d) =>
      Resample.piecewiseTrend(Tables.events(s, d))),
    "ts_holt" -> ((s, d) => Resample.holt(Tables.events(s, d), 0.3, 0.1)),
    "ts_backtest" -> ((s, d) =>
      Resample.backtestBaselines(Tables.events(s, d))),
    "ts_ljungbox" -> ((s, d) => Resample.ljungBox(Tables.events(s, d))),
    // daily grain pins the oracle's recursion to calendar-days-many
    // steps (the hourly default would replay too, just slowly: one
    // recursive-CTE iteration per series point); band 7 = a week of
    // elastic slack at daily resolution
    "ts_haar_energy" -> ((s, d) =>
      Resample.haarEnergy(Tables.events(s, d))),
    "ts_dtw" -> ((s, d) =>
      Resample.dtwDistance(Tables.events(s, d), band = 7, grain = "day")),
    "ts_perm_entropy" -> ((s, d) =>
      Resample.permutationEntropy(Tables.events(s, d))),
    "ts_coint" -> ((s, d) => Resample.cointegration(Tables.events(s, d))),
    "ts_periodogram" -> ((s, d) =>
      Resample.periodogram(Tables.events(s, d))),
    "ts_spectral_entropy" -> ((s, d) =>
      Resample.spectralEntropy(Tables.events(s, d))),
    "st_partial_corr" -> ((s, d) =>
      Stats.partialCorr(Tables.events(s, d))),
    "ts_variance_ratio" -> ((s, d) =>
      Resample.varianceRatio(Tables.events(s, d))),
    "ts_sax" -> ((s, d) => Resample.saxWords(Tables.events(s, d))),
    "ts_profile_outlier" -> ((s, d) =>
      Resample.dayProfileOutliers(Tables.events(s, d))),
    "tx_readability" -> ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d))),
    "tx_burrows_delta" -> ((s, d) =>
      TextAnalysis.burrowsDelta(Tables.documents(s, d))),
    "pipe_pad_efficiency" -> ((s, d) =>
      TextAnalysis.padEfficiency(Tables.documents(s, d))),
    "st_sprt" -> ((s, d) => Stats.sprt(Tables.events(s, d))),
    "st_cuped" -> ((s, d) => Stats.cuped(Tables.events(s, d))),
    "st_meta" -> ((s, d) => Stats.metaAnalysis(Tables.events(s, d))),
    "dq_srm" -> ((s, d) => Quality.srmCheck(Tables.events(s, d))),
    "ml_lift" -> ((s, d) =>
      TextAnalysis.liftTable(Tables.documents(s, d))),
    "tx_chao1" -> ((s, d) =>
      TextAnalysis.vocabularyRichness(Tables.documents(s, d))),
    "dq_volume_anomaly" -> ((s, d) =>
      Quality.volumeAnomaly(Tables.events(s, d))),
    "dq_missing_hours" -> ((s, d) =>
      Quality.hourCoverage(Tables.events(s, d))),
    // week-over-week VALUE drift through the exact same striped-KS core
    // as st_ks — PSI (dq_drift) bins and blurs; KS is binning-free and
    // catches shape changes PSI's coarse bins average away
    "dq_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Stats.ksTest(Tables.events(s, d).withColumn("wk",
        when(col("ts") < to_date(lit("2024-01-15")), "w1")
          .otherwise("w2")),
        "wk", "value", "w1", "w2")
    }),
    "ts_conformal" -> ((s, d) =>
      Resample.conformalInterval(Tables.events(s, d))),
    "st_boxcox" -> ((s, d) => Stats.boxCoxScan(Tables.events(s, d))),
    "ts_strength" -> ((s, d) =>
      Resample.seasonalStrength(Tables.events(s, d))),
    "ml_knn_eval" -> ((s, d) =>
      SimilaritySearch.knnClassifierEval(Tables.embeddings(s, d))),
    "ml_ridge_path" -> ((s, d) =>
      Stats.ridgePath(Tables.lineitem(s, d), "l_extendedprice",
        "l_quantity", "l_discount")),
    "ts_markov_entropy" -> ((s, d) =>
      Windows.entropyRate(Tables.events(s, d))),
    "ts_ar1_halflife" -> ((s, d) => Resample.ar1HalfLife(Tables.events(s, d))),
    "ts_hurst" -> ((s, d) => Resample.hurstRS(Tables.events(s, d))),
    "ts_turning_points" -> ((s, d) => Resample.turningPoints(Tables.events(s, d))),
    "ts_seasonal_mk" -> ((s, d) =>
      Resample.seasonalMannKendall(Tables.events(s, d))),
    "ts_mann_kendall" -> ((s, d) =>
      Resample.mannKendall(Tables.events(s, d))),
    "ts_matrix_profile" -> ((s, d) =>
      Resample.matrixProfile(Tables.events(s, d))),
    "st_hodges_lehmann" -> ((s, d) =>
      Stats.hodgesLehmann(Tables.events(s, d))),
    "st_fleiss_kappa" -> ((s, d) =>
      Stats.fleissKappa(Tables.orders(s, d))),
    "st_cronbach_alpha" -> ((s, d) =>
      Stats.cronbachAlpha(Tables.events(s, d))),
    "st_icc" -> ((s, d) => Stats.icc(Tables.events(s, d))),
    "st_cmh" -> ((s, d) => Stats.cmhTest(Tables.events(s, d))),
    "st_jonckheere" -> ((s, d) =>
      Stats.jonckheereTerpstra(Tables.orders(s, d))),
    "st_durbin_watson" -> ((s, d) =>
      Stats.durbinWatson(Tables.events(s, d))),
    "st_did" -> ((s, d) => Stats.diffInDiff(Tables.events(s, d))),
    "st_tost" -> ((s, d) =>
      Stats.tostEquivalence(Tables.events(s, d), "event_type", "value",
        "click", "view", margin = 2.0)),
    "w26_ltv" -> ((s, d) => Windows.cohortLtv(Tables.events(s, d))),
    "w27_interval_merge" -> ((s, d) =>
      Windows.intervalMerge(Tables.events(s, d))),
    "w28_growth_accounting" -> ((s, d) =>
      Windows.growthAccounting(Tables.events(s, d))),
    "w29_attribution_windows" -> ((s, d) =>
      Windows.attributionWindows(Tables.events(s, d))),
    "w24_stickiness" -> ((s, d) =>
      Windows.stickiness(Tables.events(s, d))),
    "w25_markov_attribution" -> ((s, d) =>
      Windows.markovAttribution(Tables.events(s, d))),
    "snk_deletion_vectors" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val p = scratch(d, "dv_orders")
      val orders = Tables.orders(s, d)
      orders.write.mode("overwrite").parquet(p) // fresh lake (clears _dv)
      val doomed = orders.filter(col("o_orderstatus") === "F")
        .select("o_orderkey")
      // submit the delete TWICE: at-least-once delivery must not change
      // the merge-on-read result (sidecar dedups at read)
      sources.Lake.appendDeletes(doomed, p, "o_orderkey")
      sources.Lake.appendDeletes(doomed, p, "o_orderkey")
      sources.Lake.readWithDeletes(s, p, "o_orderkey")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    }),
    "st_cliff" -> ((s, d) =>
      Stats.cliffsDelta(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    // ---- F. spatial ----
    "sp_sde" -> ((s, d) =>
      SpatialJoin.deviationalEllipse(
        SpatialJoin.customerPoints(Tables.customer(s, d)),
        "c_lat", "c_lon")),
    "sp_haversine" -> ((s, d) =>
      SpatialJoin.distances(
        Tables.customer(s, d).filter(org.apache.spark.sql.functions.col("c_custkey") <= 20),
        Tables.supplier(s, d))),
    "sp_nearest_join" -> ((s, d) =>
      SpatialJoin.nearestSupplier(Tables.customer(s, d), Tables.supplier(s, d))),
    "sp_nearest_cell" -> ((s, d) =>
      SpatialJoin.nearestSupplierGrid(Tables.customer(s, d), Tables.supplier(s, d))),
    "sp_knn_grid" -> ((s, d) =>
      SpatialJoin.knnSuppliersGrid(Tables.customer(s, d), Tables.supplier(s, d), k = 3)),
    "sp_moran" -> ((s, d) =>
      SpatialJoin.moranI(Tables.customer(s, d))),
    "sp_getis_ord" -> ((s, d) =>
      SpatialJoin.getisOrd(Tables.customer(s, d))),
    "sp_join_count" -> ((s, d) =>
      SpatialJoin.joinCounts(Tables.customer(s, d))),
    "sp_silhouette" -> ((s, d) =>
      SpatialJoin.gridSilhouette(Tables.customer(s, d))),
    "sp_grid_density" -> ((s, d) =>
      SpatialJoin.gridDensity(Tables.customer(s, d))),
    "sp_geofence" -> ((s, d) =>
      SpatialJoin.geofenceSummary(Tables.customer(s, d),
        Tables.supplier(s, d))),
    "sp_dbscan" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SpatialJoin.dbscan(
        SpatialJoin.customerPoints(Tables.customer(s, d))
          .select(col("c_custkey").as("pid"), col("c_lat").as("lat"),
            col("c_lon").as("lon")),
        epsKm = 300.0, minPts = 3, cellDeg = 9)
    }),
    "sp_cluster" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SpatialJoin.epsilonClusters(
        SpatialJoin.customerPoints(Tables.customer(s, d))
          .select(col("c_custkey").as("pid"), col("c_lat").as("lat"),
            col("c_lon").as("lon")),
        // the synthetic lattice's nearest neighbors sit ~250+ km apart;
        // 300 km needs 9-degree cells (lon bound 7.9 degrees at |lat|=70)
        epsKm = 300.0, cellDeg = 9)
        .select(col("pid").as("c_custkey"), col("cluster_id"))
    }),
    "sp_ripley" -> ((s, d) =>
      SpatialJoin.ripleyK(Tables.customer(s, d))),
    "sp_radius_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SpatialJoin.withinRadiusPairs(
        SpatialJoin.customerPoints(Tables.customer(s, d))
          .select(col("c_custkey").as("pid"), col("c_lat").as("lat"),
            col("c_lon").as("lon")),
        epsKm = 300.0, cellDeg = 9)
    }),
    // ---- G. text analysis / dedup / similarity ----
    "tx_tokens" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "tx_quality" -> ((s, d) => TextAnalysis.qualityScores(Tables.documents(s, d))),
    "pipe_quality_curve" -> ((s, d) =>
      TextAnalysis.qualityCurve(Tables.documents(s, d))),
    "tx_rake" -> ((s, d) =>
      TextAnalysis.rakeKeywords(Tables.documents(s, d))),
    "pipe_scaling_law" -> ((s, d) =>
      TextAnalysis.dataScalingCurve(Tables.documents(s, d))),
    "tx_langid" -> ((s, d) => TextAnalysis.languageId(Tables.documents(s, d))),
    "tx_fingerprint" -> ((s, d) => TextAnalysis.fingerprints(Tables.documents(s, d))),
    "tx_fingerprint_roll" -> ((s, d) =>
      TextAnalysis.rollingFingerprints(Tables.documents(s, d))),
    "tx_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    "tx_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(Tables.documents(s, d))),
    "tx_normalize" -> ((s, d) => TextAnalysis.normalize(Tables.documents(s, d))),
    "tx_hash_split" -> ((s, d) => TextAnalysis.hashSplit(Tables.documents(s, d))),
    // the end-to-end curation pipeline: quality gates → canonical-text
    // dedup → deterministic split, one scan + one narrow shuffle
    "pipe_curate" -> ((s, d) => TextAnalysis.curate(Tables.documents(s, d))),
    "pipe_pairs" -> ((s, d) =>
      SketchDedup.contrastivePairs(Tables.documents(s, d))),
    "pipe_pack" -> ((s, d) => TextAnalysis.packSequences(Tables.documents(s, d))),
    "pipe_split" -> ((s, d) =>
      Sampling.trainValTestSplit(Tables.documents(s, d), "doc_id")),
    "tx_source_jaccard" -> ((s, d) =>
      SketchDedup.sourceJaccard(Tables.documents(s, d))),
    "pipe_e2e" -> ((s, d) =>
      TextAnalysis.curationPipeline(Tables.documents(s, d))),
    "tx_hash_features" -> ((s, d) =>
      TextAnalysis.hashFeatures(Tables.documents(s, d))),
    "dq_k_anonymity" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      Quality.kAnonymity(Tables.documents(s, d),
        Seq(col("lang"), col("source"),
          expr("n_chars div 50").as("len_bucket")))
    }),
    "dq_dp_release" -> ((s, d) =>
      Quality.dpNoisyCounts(Tables.events(s, d), "event_type")),
    "st_moments_merge" -> ((s, d) =>
      Stats.mergeableMoments(Tables.events(s, d))),
    "st_wilcoxon" -> ((s, d) =>
      Stats.wilcoxonSignedRank(Tables.events(s, d))),
    "st_runs" -> ((s, d) => Stats.runsTest(Tables.events(s, d))),
    "st_odds_ratio" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, dayofweek}
      // weekend exposure vs purchase outcome, per event
      Stats.oddsRatio(Tables.events(s, d),
        dayofweek(col("ts")).isin(1, 7),
        col("event_type") === "purchase")
    }),
    "st_mcnemar" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, dayofmonth}
      // before/after design: purchased in week 1 vs purchased in week 4
      Stats.mcnemar(Tables.events(s, d),
        col("event_type") === "purchase" && dayofmonth(col("ts")) <= 7,
        col("event_type") === "purchase" && dayofmonth(col("ts")) >= 22)
    }),
    "st_quantile_merge" -> ((s, d) =>
      Stats.mergeQuantilePartials(
        Stats.quantilePartials(Tables.events(s, d), "value", 0.0, 500.0, 50),
        0.0, 500.0, 50, Seq(0.25, 0.5, 0.75, 0.9))),
    "dq_skew" -> ((s, d) =>
      Quality.skewReport(Tables.lineitem(s, d), "l_suppkey")),
    // Dynamic partition pruning: the fact side is a day-partitioned
    // lake; the dim side (a derived day calendar) filters to the first
    // week AT RUNTIME via the broadcast's subquery — the fact scan's
    // PartitionFilters carries dynamicpruningexpression (plan-audited),
    // so a 100 TB lake reads 7 partitions, not 30. The filter
    // deliberately lives on the DIM attribute (week_of_month), not the
    // fact column — static pruning can't see it.
    "q32_dpp_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val fact = s.read.parquet(dppLake(s, d))
      val calendar = Tables.events(s, d)
        .select(to_date(col("ts")).as("day")).distinct()
        .withColumn("week_of_month", expr("(dayofmonth(day) - 1) div 7"))
      fact.join(broadcast(calendar.filter(col("week_of_month") === 0)),
          Seq("day"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    }),
    // Runtime bloom-filter join — DPP's row-level sibling for
    // UNPARTITIONED fact columns: the selective dim filter builds a
    // bloom at runtime, pushed into the fact scan as might_contain so
    // non-joining rows drop BEFORE the per-order rollup's shuffle
    // (injection requires exactly this shape — an aggregation below
    // the join on the application side is what the filter saves; a
    // bare scan→join has nothing to protect). The merge hint keeps
    // the join a shuffle join: at 100 TB the urgent-orders side
    // outgrows any broadcast threshold and THIS is the surviving
    // plan. Plan-audited with the 10 GB application-scan gate lowered
    // (the contract result is threshold-independent).
    "q33_runtime_filter" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        // EXACT decimal money math end to end (the st_moments_merge
        // discipline): per-line products cast to decimal before ANY
        // sum, so no rounding boundary can flap between engines
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("order_revenue"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum("order_revenue").as("revenue"))
    }),
    "st_impute" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Stats.imputeByGroup(Tables.events(s, d), "event_type", "value")
        .select("event_id", "event_type", "value", "value_filled",
          "was_null")
    }),
    "st_logreg_gd" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, element_at}
      Stats.logisticGD(Tables.embeddings(s, d),
        element_at(col("embedding"), 1).cast("double") +
          element_at(col("embedding"), 2).cast("double") > 0)
    }),
    // domain-mixture resampling: en halved, fr 1.5x, es doubled, zh
    // quartered — exercises downsample, integral and fractional upsample
    "pipe_balance" -> ((s, d) =>
      Sampling.classBalance(Tables.documents(s, d), "doc_id", "lang")
        .select("doc_id", "lang")),
    "pipe_mixture" -> ((s, d) =>
      Sampling.mixtureSample(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.5, "es" -> 2.0, "zh" -> 0.25))),
    "pipe_shuffle" -> ((s, d) =>
      Sampling.deterministicShuffle(Tables.documents(s, d), "doc_id")),
    "pipe_weighted" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.weightedSample(Tables.documents(s, d), "doc_id",
        col("n_chars") / 600.0).select("doc_id", "n_chars")
    }),
    "st_stratified" -> ((s, d) =>
      Sampling.stratifiedFixed(Tables.documents(s, d), "doc_id", "lang", 20)
        .select("doc_id", "lang")),
    "dd_exact" -> ((s, d) => Dedup.exactStats(Tables.documents(s, d))),
    "dd_fuzzy" -> ((s, d) =>
      FuzzyJoin.fuzzyPairs(Tables.customer(s, d), "c_custkey", "c_name")),
    "dd_drop_exact" -> ((s, d) =>
      Dedup.dropExactDuplicates(Tables.documents(s, d)).select("keep_id", "n_chars")),
    "dd_cdc_chunks" -> ((s, d) =>
      Dedup.sharedChunks(Tables.documents(s, d))),
    "dd_dupspans" -> ((s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), k = 8)),
    "dd_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), 3, 0.2)),
    "pipe_dedup_curve" -> ((s, d) =>
      Dedup.dedupCurve(Tables.documents(s, d))),
    // asymmetric containment — catches a short doc quoted inside a long
    // one, which symmetric Jaccard misses
    "dd_containment" -> ((s, d) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, d), 3, 0.5)),
    "dd_cluster" -> ((s, d) =>
      Dedup.dupClusters(Dedup.ngramJaccardPairs(Tables.documents(s, d), 3, 0.2))),
    // detection → deduplicated corpus: drop every clustered doc except
    // its quality-ranked canonical
    "dd_keep_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.keepCanonical(docs, Dedup.ngramJaccardPairs(docs, 3, 0.2))
    }),
    // the end-to-end 100 TB dedup path: sketch candidates (not exact
    // pairs) feeding the same connected-components labeler
    "dd_cluster_lsh" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dupClusters(SketchDedup.minhashLshPairs(Tables.documents(s, d))
        .select(col("d1"), col("d2")))
    }),
    "tx_vocab" -> ((s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), 1, 20)),
    "tx_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), 3)),
    "tx_unigram_ce" -> ((s, d) =>
      TextAnalysis.unigramCrossEntropy(Tables.documents(s, d))),
    "tx_bigram_ce" -> ((s, d) =>
      TextAnalysis.bigramCrossEntropy(Tables.documents(s, d))),
    "tx_perplexity" -> ((s, d) =>
      TextAnalysis.perplexityBands(Tables.documents(s, d))),
    "tx_next_token" -> ((s, d) =>
      TextAnalysis.nextTokenTable(Tables.documents(s, d))),
    "tx_pii" -> ((s, d) => TextAnalysis.piiScan(Tables.documents(s, d))),
    "tx_contamination" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      // benchmark stand-in: the src0 slice; scan the rest against it
      TextAnalysis.contamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 5, minShared = 10)
    }),
    "dd_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), 0.3)),
    "ann_bruteforce" -> ((s, d) =>
      SimilaritySearch.bruteForceTopK(Tables.embeddings(s, d), 0L, 10)),
    "ann_mips" -> ((s, d) =>
      SimilaritySearch.mipsTopK(Tables.embeddings(s, d), 0L, 10)),
    "dwh_junk_dim" -> ((s, d) => Dwh.junkDimension(Tables.orders(s, d))),
    "dwh_mini_dim" -> ((s, d) => Dwh.miniDimension(Tables.customer(s, d))),
    "dwh_data_vault" -> ((s, d) =>
      Dwh.dataVaultLoad(Tables.orders(s, d), Tables.customer(s, d))),
    "dwh_role_playing" -> ((s, d) =>
      Dwh.rolePlayingDates(Tables.lineitem(s, d), Tables.orders(s, d))),
    "dq_mix_drift" -> ((s, d) => Quality.mixDrift(Tables.events(s, d))),
    "dq_ad_uniformity" -> ((s, d) =>
      Quality.adUniformity(Tables.events(s, d))),
    "dq_hash_uniformity" -> ((s, d) =>
      Quality.hashUniformity(Tables.events(s, d))),
    "dq_fd_check" -> ((s, d) => Quality.fdCheck(Seq(
      ("orderkey->custkey", Tables.orders(s, d),
        Seq("o_orderkey"), "o_custkey"),
      ("orderkey->returnflag", Tables.lineitem(s, d),
        Seq("l_orderkey"), "l_returnflag"),
      ("nation->segment", Tables.customer(s, d),
        Seq("c_nationkey"), "c_mktsegment"),
      ("orderkey,line->partkey", Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber"), "l_partkey")))),
    "tx_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d))),
    "tx_kneser_ney" -> ((s, d) =>
      TextAnalysis.knCrossEntropy(Tables.documents(s, d))),
    "pipe_kill_report" -> ((s, d) =>
      TextAnalysis.killReport(Tables.documents(s, d))),
    "tx_term_burstiness" -> ((s, d) =>
      TextAnalysis.termBurstiness(Tables.documents(s, d))),
    "tx_textrank" -> ((s, d) =>
      TextAnalysis.textRank(Tables.documents(s, d))),
    "sp_quadrat" -> ((s, d) => SpatialJoin.quadratTest(Tables.customer(s, d))),
    "sp_kde" -> ((s, d) => SpatialJoin.kernelDensity(Tables.customer(s, d))),
    "sp_clark_evans" -> ((s, d) =>
      SpatialJoin.clarkEvans(Tables.customer(s, d))),
    "sp_davies_bouldin" -> ((s, d) =>
      SpatialJoin.gridDaviesBouldin(Tables.customer(s, d))),
    "dwh_periodic_snapshot" -> ((s, d) =>
      Dwh.periodicSnapshot(Tables.orders(s, d), Tables.customer(s, d))),
    "dwh_factless" -> ((s, d) =>
      Dwh.factlessCoverage(Tables.orders(s, d), Tables.customer(s, d))),
    "dwh_scd3" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Dwh.scd3View(Tables.events(s, d), "user_id", "event_type",
          "ts", "event_id")
        .select(col("user_id"), col("current_state"), col("prev_state"),
          unix_micros(col("changed_at")).as("changed_at_us"))
    }),
    "tx_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d),
        Seq("vector", "hash", "merge"), 10)),
    "ann_hybrid" -> ((s, d) =>
      SimilaritySearch.hybridRrf(Tables.documents(s, d),
        Tables.embeddings(s, d), 0L, Seq("vector", "hash", "merge"), 10)),
    "ann_pca" -> ((s, d) =>
      SimilaritySearch.pcaProject(Tables.embeddings(s, d), nc = 2)),
    "ml_kmeans" -> ((s, d) =>
      SimilaritySearch.kmeansExactClusters(Tables.embeddings(s, d), k = 8)),
    "ml_cluster_purity" -> ((s, d) =>
      SimilaritySearch.kmeansExactPurity(Tables.embeddings(s, d), k = 8)),
    "ml_isotropy" -> ((s, d) =>
      SimilaritySearch.isotropyAudit(Tables.embeddings(s, d))),
    "ann_l2" -> ((s, d) =>
      SimilaritySearch.l2TopK(Tables.embeddings(s, d), 0L, 10)),
    "st_brunner_munzel" -> ((s, d) =>
      Stats.brunnerMunzel(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "dwh_fx" -> ((s, d) =>
      Dwh.fxConvert(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d))),
    "dq_fingerprint" -> ((s, d) =>
      Quality.tableFingerprint(Tables.orders(s, d))),
    // batch replay of the streaming late-arriving-dimension sink —
    // the SAME admitFacts/healDims definitions the checkpointed sinks
    // call per micro-batch (the stream_fingerprint discipline: one
    // definition, driver-checked here, replay/idempotence spec-checked
    // in InferredMemberSpec): 3 fact batches interleaved with 2 dim
    // loads, then an at-least-once REPLAY of one batch of each kind —
    // the final lake must be exactly "dims latest-per-key type-1,
    // fact-only keys as inferred placeholders"
    "stream_inferred_member" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val p = scratch(d, "inferred_member_dim")
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.delete(hp, true) // fresh lake per run
      val facts = Tables.orders(s, d)
        .select(col("o_custkey"), (col("o_orderkey") % 3).as("__b"))
      def factBatch(b: Int) = facts.filter(col("__b") === b)
      val dim0 = Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"),
          concat(lit("seg0:"), col("c_mktsegment")).as("state"),
          lit(0L).as("ts"), col("c_custkey").as("ord"))
      val dim1 = Tables.customer(s, d).filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"),
          concat(lit("seg1:"), col("c_mktsegment")).as("state"),
          lit(1L).as("ts"), col("c_custkey").as("ord"))
      streaming.InferredMemberSink.admitFacts(factBatch(0), p, "o_custkey")
      streaming.InferredMemberSink.healDims(dim0, p, "c_custkey",
        "state", "ts", "ord")
      streaming.InferredMemberSink.admitFacts(factBatch(1), p, "o_custkey")
      streaming.InferredMemberSink.healDims(dim1, p, "c_custkey",
        "state", "ts", "ord")
      streaming.InferredMemberSink.admitFacts(factBatch(2), p, "o_custkey")
      // at-least-once: replaying a fact batch and a dim batch must
      // leave the lake bit-identical
      streaming.InferredMemberSink.admitFacts(factBatch(1), p, "o_custkey")
      streaming.InferredMemberSink.healDims(dim1, p, "c_custkey",
        "state", "ts", "ord")
      s.read.parquet(p).select("dim_key", "state", "inferred")
    }),
    "st_wquantile" -> ((s, d) =>
      Stats.weightedQuantiles(Tables.lineitem(s, d), "l_extendedprice",
        "l_quantity")),
    "st_f_test" -> ((s, d) => Stats.fTestVariance(Tables.events(s, d))),
    "st_copula" -> ((s, d) => Stats.empiricalCopula(Tables.events(s, d))),
    "st_xi" -> ((s, d) => Stats.chatterjeeXi(Tables.events(s, d))),
    "st_pot_tail" -> ((s, d) => Stats.potTailFit(Tables.events(s, d))),
    "st_newey_west" -> ((s, d) => Stats.neweyWest(Tables.events(s, d))),
    "st_lorenz" -> ((s, d) => Stats.lorenzCurve(Tables.orders(s, d))),
    "w30_twap" -> ((s, d) => Windows.twap(Tables.events(s, d))),
    "ts_croston" -> ((s, d) => Resample.croston(Tables.events(s, d))),
    "dq_pk_discovery" -> ((s, d) =>
      Quality.pkDiscovery(Tables.orders(s, d))),
    // HLL screen + exact-confirm-survivors twin: rows-only (non-survivor
    // NDVs are HLL-register-private); is_key agreement with the exact
    // surface and the screen's no-Expand plan are spec-locked
    "dq_pk_discovery_scalable" -> ((s, d) =>
      Quality.pkDiscoveryScalable(Tables.orders(s, d))),
    "st_interarrival" -> ((s, d) =>
      Stats.interArrivalTest(Tables.events(s, d))),
    "gr_percolation" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val w = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000000L).as("dst"))
        .agg(countDistinct("o_orderkey").as("w"))
      Graph.percolationCurve(w)
    }),
    "st_mmd" -> ((s, d) => Stats.mmdTest(Tables.events(s, d))),
    "mm_decimate" -> ((s, d) =>
      operators.Multimodal.audioDecimateSummary(Tables.documents(s, d))),
    // minimum spanning forest over the weighted customer⊗supplier
    // graph (weight = shared-order count, ties broken by the edge key
    // — a unique forest). Union-find state is not SQL-expressible →
    // rows-only; the serial-Kruskal twin lives in Wave10cSpec.
    "gr_mst" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val w = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000000L).as("dst"))
        .agg(countDistinct("o_orderkey").as("w"))
      Graph.minimumSpanningForest(w)
    }),
    "pipe_decon_embed" -> ((s, d) =>
      SimilaritySearch.embedContamination(Tables.embeddings(s, d))),
    // bucketed 100 TB twin: rows-only (candidate set is plane-seed-
    // private); recall vs the exact surface + no-probe-broadcast plan
    // are spec-locked
    "pipe_decon_embed_lsh" -> ((s, d) =>
      SimilaritySearch.embedContaminationLsh(Tables.embeddings(s, d))),
    "gr_scc" -> ((s, d) =>
      Graph.stronglyConnectedComponents(supplierSuccessionEdges(s, d))),
    "sp_lisa" -> ((s, d) => SpatialJoin.localMoran(Tables.customer(s, d))),
    "ts_ami" -> ((s, d) => Resample.amiLadder(Tables.events(s, d))),
    // Spark 4 VARIANT type end-to-end: parse_json → open-schema binary
    // variant → typed variant_get extraction (q20's get_json_object
    // re-parses the string per access; VARIANT parses ONCE and is the
    // engine's semi-structured lake format going forward)
    "q41_variant" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
          sum("k").as("sum_k"), min("k").as("min_k"),
          max("k").as("max_k"), round(avg("k"), 6).as("avg_k"))
    }),
    "st_chisq_gof" -> ((s, d) => Stats.chiSquareGof(Tables.events(s, d))),
    "st_beta_binomial" -> ((s, d) =>
      Stats.betaBinomial(Tables.events(s, d))),
    "ts_transfer_entropy" -> ((s, d) =>
      Resample.transferEntropy(Tables.events(s, d))),
    "ts_hmm" -> ((s, d) => Resample.hmmViterbi(Tables.events(s, d))),
    "ts_lombscargle" -> ((s, d) =>
      Resample.lombScargle(Tables.events(s, d))),
    "ts_dfa" -> ((s, d) => Resample.dfaAlpha(Tables.events(s, d))),
    "tx_boilerplate" -> ((s, d) =>
      TextAnalysis.boilerplateProfile(Tables.documents(s, d))),
    "dwh_scd4" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Dwh.scd4View(Tables.events(s, d), "user_id", "event_type", "ts",
        "event_id")
        .select(col("user_id"), col("current_state"), col("n_versions"),
          unix_micros(col("first_seen")).as("first_seen_us"),
          unix_micros(col("last_changed")).as("last_changed_us"))
    }),
    "sp_hexbin" -> ((s, d) =>
      SpatialJoin.hexbinDensity(Tables.customer(s, d))),
    "sp_idw" -> ((s, d) => SpatialJoin.idwDensity(Tables.customer(s, d))),
    "st_ipf" -> ((s, d) => Stats.ipf(Tables.events(s, d))),
    "dwh_restatement" -> ((s, d) =>
      Dwh.restatement(Tables.events(s, d))),
    "dwh_allocation" -> ((s, d) =>
      Dwh.allocateToLines(Tables.orders(s, d), Tables.lineitem(s, d))),
    "tx_dispersion" -> ((s, d) =>
      TextAnalysis.sourceDispersion(Tables.documents(s, d))),
    "tx_distinct_n" -> ((s, d) =>
      TextAnalysis.distinctN(Tables.documents(s, d))),
    "tx_fertility" -> ((s, d) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, d))),
    "tx_heaps" -> ((s, d) =>
      TextAnalysis.heapsFit(Tables.documents(s, d))),
    "dd_histogram" -> ((s, d) =>
      Dedup.dupSizeHistogram(Tables.documents(s, d))),
    "st_logrank" -> ((s, d) => Stats.logRank(Tables.events(s, d))),
    "st_nelson_aalen" -> ((s, d) =>
      Stats.nelsonAalen(Tables.events(s, d))),
    "st_herfindahl" -> ((s, d) =>
      Stats.herfindahl(Tables.orders(s, d))),
    "ml_qini" -> ((s, d) => Stats.qini(Tables.events(s, d))),
    "st_smd" -> ((s, d) => Stats.covariateBalance(Tables.events(s, d))),
    "ts_intermittency" -> ((s, d) =>
      Resample.demandClasses(Tables.lineitem(s, d))),
    "ml_stump" -> ((s, d) => Stats.giniStump(Tables.documents(s, d))),
    "st_by_battery" -> ((s, d) =>
      Stats.welchBatteryBY(Tables.events(s, d), "event_type", "value")),
    "st_yuen" -> ((s, d) =>
      Stats.yuenTTest(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "st_kuiper" -> ((s, d) =>
      Stats.kuiperTest(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "st_cohens_h" -> ((s, d) => Stats.cohensH(Tables.events(s, d))),
    "ts_drawdown" -> ((s, d) =>
      Resample.maxDrawdown(Tables.events(s, d))),
    "dwh_date_dim" -> ((s, d) => Dwh.dateDim(s)),
    "q39_grouping_id" -> ((s, d) =>
      Relational.rollupGroupingId(Tables.lineitem(s, d))),
    "q40_skyline" -> ((s, d) =>
      Relational.skylineParts(Tables.part(s, d))),
    "dq_column_stats" -> ((s, d) =>
      Quality.columnStats(Tables.orders(s, d))),
    // HLL++ NDV twin: rows-only (register layout is engine-private);
    // ≤5%-error-vs-exact and no-Expand plan shape are spec-locked
    "dq_column_stats_approx" -> ((s, d) =>
      Quality.columnStatsApprox(Tables.orders(s, d))),
    "ts_flatness" -> ((s, d) =>
      Resample.spectralFlatness(Tables.events(s, d))),
    "tx_novelty" -> ((s, d) =>
      TextAnalysis.trigramNovelty(Tables.documents(s, d))),
    "tx_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d))),
    "sp_mantel" -> ((s, d) =>
      SpatialJoin.mantelCells(Tables.customer(s, d))),
    "sp_variogram" -> ((s, d) =>
      SpatialJoin.semivariogramCells(Tables.customer(s, d))),
    "ann_range" -> ((s, d) =>
      SimilaritySearch.rangeSearch(Tables.embeddings(s, d), 0L, 0.2)),
    "ann_lsh" -> ((s, d) =>
      SimilaritySearch.lshProbe(s, lshIndex(s, d), Tables.embeddings(s, d),
        0L, 10, annPlanes)),
    "ann_lsh_multiprobe" -> ((s, d) =>
      SimilaritySearch.lshProbeMulti(s, lshIndex(s, d),
        Tables.embeddings(s, d), 0L, 10, annPlanes)),
    "ann_ivf" -> ((s, d) => {
      val (path, cb) = ivfIndex(s, d)
      SimilaritySearch.ivfProbe(s, path, Tables.embeddings(s, d), cb, 0L, 10,
        nProbe = 4)
    }),
    "ann_knn_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val (_, cb) = ivfIndex(s, d)
      SimilaritySearch.knnJoin(emb.filter(col("vec_id") < 50), emb, 3, cb,
        nProbe = 4)
    }),
    // measured recall of that approximate join vs the exact answer —
    // rows-only (no SQL oracle), the convergence property is spec-locked
    "ann_recall" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val (_, cb) = ivfIndex(s, d)
      SimilaritySearch.recallReport(emb.filter(col("vec_id") < 50), emb,
        10, cb, nProbe = 4)
    }),
    // compressed-domain ANN: ADC over the 32x-smaller code lake, exact
    // rerank of the shortlist only
    "ann_pq" -> ((s, d) => {
      val (path, cbs) = pqIndex(s, d)
      ProductQuantization.pqTopK(s, path, Tables.embeddings(s, d), 0L, 10, cbs)
    }),
    "ann_sq8" -> ((s, d) => {
      val (path, (mn, mx)) = sq8Index(s, d)
      ScalarQuantization.sq8TopK(s, path, Tables.embeddings(s, d), 0L, 10, mn, mx)
    }),
    // metadata-filtered vector search: exact top-k within a label slice
    // (the predicate reaches the scan before any cosine is computed; the
    // IVF-filtered scale twin is recall-specced in EmbedLshSpec)
    "ann_filtered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SimilaritySearch.bruteForceTopKWhere(Tables.embeddings(s, d), 0L, 10,
        col("label") === 3)
    }),
    // embedding-space (semantic) dedup over the IVF cells
    "dd_semantic" -> ((s, d) => {
      val (_, cb) = ivfIndex(s, d)
      Dedup.semanticDedup(Tables.embeddings(s, d), cb, 0.3)
    }),
    "dd_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      IncrementalDedup.incrementalDedup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), n = 3, threshold = 0.2)
    }),
    "dd_incremental_lsh" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      IncrementalDedup.incrementalDedupLsh(s,
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
        dedupIndex(s, d))
    }),
    // exact-fp incremental layer with the bloom-pruned corpus scan —
    // result provably equals the unpruned anti-join (no false negatives)
    "dd_incremental_bloom" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      IncrementalDedup.incrementalDedupBloom(s,
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
    }),
    // tokenizer induction: ordered BPE merge table over the corpus
    // word-frequency frame (hash-bearing only in tie-break-free counts;
    // rows-only because the merge loop is not SQL-expressible)
    "tx_bpe_train" -> ((s, d) =>
      Bpe.trainMerges(Tables.documents(s, d), 12)),
    // tokenizer INFERENCE over the session-cached merge table: per-doc
    // BPE token counts + the compression the merges bought vs raw chars
    "tx_bpe_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Bpe.applyMerges(Tables.documents(s, d), bpeMerges(s, d))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("syms"))).as("n_bpe_tokens"),
          sum(length(col("w")) + 1).as("n_chars_w"))
        .withColumn("compression",
          round(col("n_bpe_tokens") / col("n_chars_w"), 4))
        .drop("n_chars_w")
    }),
    "dd_embed_neardup_lsh" -> ((s, d) =>
      SimilaritySearch.neardupPairsLsh(Tables.embeddings(s, d), 0.3)),
    "dd_minhash_lsh" -> ((s, d) =>
      SketchDedup.minhashLshPairs(Tables.documents(s, d))),
    "dd_simhash" -> ((s, d) => SketchDedup.simhashPairs(Tables.documents(s, d))),
    "mm_features" -> ((s, d) =>
      Multimodal.featureSummary(s, Tables.documents(s, d))),
    "mm_resize" -> ((s, d) => Multimodal.resizeSummary(Tables.documents(s, d))),
    "mm_phash" -> ((s, d) => Multimodal.phashSummary(Tables.documents(s, d))),
    "mm_audio_energy" -> ((s, d) =>
      Multimodal.audioEnergySummary(Tables.documents(s, d))),
    "mm_bmp_roundtrip" -> ((s, d) =>
      Multimodal.bmpResizeSummary(Tables.documents(s, d))),
    "mm_scenecut" -> ((s, d) =>
      Multimodal.sceneCutSummary(Tables.documents(s, d))),
    "mm_frames" -> ((s, d) =>
      Multimodal.frameSummary(Tables.documents(s, d))),
    "sc_salted_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Scale.saltedJoin(Tables.orders(s, d), Tables.customer(s, d),
        "o_custkey", "c_custkey", 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    }),
    // ---- A. sources & sinks ----
    "src_parquet_scan" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(org.apache.spark.sql.functions.col("l_quantity") >= 49)
        .select("l_orderkey", "l_linenumber", "l_quantity")),
    "src_csv_roundtrip" -> ((s, d) =>
      sources.Lake.csvRoundtrip(s, Tables.nation(s, d), scratch(d, "csv_nation"))),
    // manifest built once per session (warmIndexes); the query is the
    // file-skipping range read + rollup
    "src_manifest_skip" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val (data, meta) = manifestLake(s, d)
      sources.Lake.manifestPrunedRead(s, data, meta,
          "l_orderkey", 1000L, 2000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
    }),
    "src_bloom_skip" -> ((s, d) => {
      val (data, meta) = bloomLake(s, d)
      sources.Lake.bloomPrunedLookup(s, data, meta, "l_orderkey", 1500L)
    }),
    "src_orc_roundtrip" -> ((s, d) =>
      sources.Lake.orcRoundtrip(s, Tables.customer(s, d), scratch(d, "orc_customer"))),
    "src_text_roundtrip" -> ((s, d) =>
      sources.Lake.textRoundtrip(s,
        Tables.documents(s, d).select("doc_id", "text"),
        scratch(d, "text_docs"))),
    // the bucketed layout is built once per session (warmIndexes); the
    // query itself is the exchange-free co-located fact join
    "snk_bucketed_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val (ot, lt) = bucketedTables(s, d)
      s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
    }),
    "src_json_roundtrip" -> ((s, d) =>
      sources.Lake.jsonRoundtrip(s, Tables.supplier(s, d), scratch(d, "json_supplier"))),
    // schema-versioned lake: v1 files lack s_acctbal, v2 files carry it;
    // the merged read surfaces nulls for v1 rows — no historical rewrite
    "src_schema_evolution" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val sup = Tables.supplier(s, d)
      sources.Lake.schemaEvolutionRoundtrip(s,
        sup.filter(col("s_suppkey") % 2 === 0).select("s_suppkey", "s_name"),
        sup.filter(col("s_suppkey") % 2 === 1)
          .select("s_suppkey", "s_name", "s_acctbal"),
        scratch(d, "evolving_lake"))
    }),
    // lake maintenance: a fragmented dir (32 shards of a small dim)
    // compacts to target-sized files; the contract checks content
    // preservation (oracle = the source table), LakeSpec checks the
    // file-count collapse and the crash-safe rename swap
    "snk_compaction" -> ((s, d) => {
      val p = scratch(d, "compact_supplier")
      Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey")
        .repartition(32).write.mode("overwrite").parquet(p)
      sources.Lake.compact(s, p, targetRowsPerFile = 1000000L)
      sources.Lake.readParquet(s, p)
    }),
    // z-order clustered rewrite: content preservation through the
    // contract (oracle = the projected source), per-file min/max
    // tightness on BOTH dims locked by ZorderSpec
    "snk_zorder" -> ((s, d) => {
      sources.Lake.zorderWrite(
        Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_quantity"),
        scratch(d, "zorder_lineitem"), "l_orderkey", "l_partkey")
    }),
    "snk_partitioned_write" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val lake = scratch(d, "orders_lake")
      sources.Lake.writePartitioned(
        Tables.orders(s, d).withColumn("o_year", year(col("o_orderdate"))),
        lake, Seq("o_year"))
      sources.Lake.readParquet(s, lake)
        .filter(col("o_year") === 1997) // partition-pruned scan
        .groupBy(month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    }),
    "q31_mom_growth" -> ((s, d) =>
      Relational.monthOverMonth(Tables.orders(s, d))),
    "q30_nullsafe_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // deterministic nulls (mirrored in the oracle): every 5th event
      // loses its type and must land in the dimension's NULL bucket
      val facts = Tables.events(s, d)
        .select(col("event_id"),
          when(col("event_id") % 5 === 0, lit(null))
            .otherwise(col("event_type")).as("k"))
      val dim = Tables.events(s, d).select(col("event_type").as("dk"))
        .distinct()
        .unionByName(s.range(1).select(lit(null).cast("string").as("dk")))
        .withColumn("label", coalesce(col("dk"), lit("__uncategorized__")))
      Relational.nullSafeCategorize(facts, dim, "k", "dk", "label")
    }),
    "st_iqr" -> ((s, d) =>
      Stats.iqrOutliers(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice")),
    "st_mad" -> ((s, d) =>
      Stats.madByGroup(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice")),
    "tpch_q3" -> ((s, d) =>
      Tpch.q3(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "tpch_q5" -> ((s, d) =>
      Tpch.q5(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d))),
    "tpch_q10" -> ((s, d) =>
      Tpch.q10(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d))),
    "tpch_q12" -> ((s, d) =>
      Tpch.q12(Tables.orders(s, d), Tables.lineitem(s, d))),
    "tpch_q14" -> ((s, d) =>
      Tpch.q14(Tables.lineitem(s, d), Tables.part(s, d))),
    "tpch_q15" -> ((s, d) =>
      Tpch.q15(Tables.supplier(s, d), Tables.lineitem(s, d))),
    "tpch_q19" -> ((s, d) =>
      Tpch.q19(Tables.lineitem(s, d), Tables.part(s, d))),
    "tpch_q18" -> ((s, d) =>
      Tpch.q18(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "tpch_q7" -> ((s, d) =>
      Tpch.q7(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "tpch_q8" -> ((s, d) =>
      Tpch.q8(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d))),
    "tpch_q13" -> ((s, d) =>
      Tpch.q13(Tables.customer(s, d), Tables.orders(s, d))),
    "tpch_q17" -> ((s, d) =>
      Tpch.q17(Tables.lineitem(s, d), Tables.part(s, d))),
    "tpch_q21" -> ((s, d) =>
      Tpch.q21(Tables.supplier(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "tpch_q22" -> ((s, d) =>
      Tpch.q22(Tables.customer(s, d), Tables.orders(s, d))),
    "tpch_q1" -> ((s, d) => Tpch.q1(Tables.lineitem(s, d))),
    "tpch_q2" -> ((s, d) =>
      Tpch.q2(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "tpch_q4" -> ((s, d) =>
      Tpch.q4(Tables.orders(s, d), Tables.lineitem(s, d))),
    "tpch_q6" -> ((s, d) => Tpch.q6(Tables.lineitem(s, d))),
    "tpch_q9" -> ((s, d) =>
      Tpch.q9(Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "tpch_q11" -> ((s, d) =>
      Tpch.q11(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))),
    "tpch_q16" -> ((s, d) =>
      Tpch.q16(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d))),
    "tpch_q20" -> ((s, d) =>
      Tpch.q20(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.part(s, d), Tables.lineitem(s, d))),
    "q28_exists" -> ((s, d) =>
      Relational.lapsedCustomers(Tables.customer(s, d), Tables.orders(s, d),
        "1996-01-01", "1997-01-01")),
    "q29_lateral" -> ((s, d) =>
      TextAnalysis.positionalTokens(Tables.documents(s, d))),
    "w14_rolling_distinct" -> ((s, d) =>
      Windows.rollingDistinctTypes(Tables.events(s, d))),
    "w17_streaks" -> ((s, d) =>
      Windows.activityStreaks(Tables.events(s, d))),
    "w18_conversion_latency" -> ((s, d) =>
      Windows.conversionLatency(Tables.events(s, d))),
    "w19_attribution" -> ((s, d) =>
      Windows.firstTouchAttribution(Tables.events(s, d))),
    "w20_pareto" -> ((s, d) =>
      Windows.activityConcentration(Tables.events(s, d))),
    "w21_concurrency" -> ((s, d) =>
      Windows.dailyConcurrency(Tables.events(s, d))),
    "ts_peaks" -> ((s, d) => Resample.peaks(Tables.events(s, d))),
    "ts_m4" -> ((s, d) => Resample.m4Downsample(Tables.events(s, d))),
    "w15_range_frame" -> ((s, d) =>
      Windows.trailingWindowSums(Tables.events(s, d))),
    "w16_rolling_median" -> ((s, d) =>
      Windows.rollingMedian(Tables.events(s, d))),
    "tx_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d))),
    "tx_ppmi" -> ((s, d) =>
      TextAnalysis.ppmiCooccurrence(Tables.documents(s, d))),
    "tx_jsd" -> ((s, d) =>
      TextAnalysis.jsDivergence(Tables.documents(s, d), "src0", "src1")),
    "st_corr_matrix" -> ((s, d) =>
      Stats.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "st_group_quantiles" -> ((s, d) =>
      Stats.groupQuantiles(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", Seq(0.25, 0.5, 0.9))),
    "st_qq" -> ((s, d) =>
      Stats.qqTable(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "st_ci" -> ((s, d) =>
      Stats.groupMeanCI(Tables.events(s, d), "event_type", "value")),
    // interval × interval overlap join (binned equi-join, no BNLJ):
    // error windows × purchase windows, 10-minute spans
    "q27_interval_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d).filter(col("user_id") < 30)
      val win = 600L * 1000000L
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          unix_micros(col("ts")).as("s1"),
          (unix_micros(col("ts")) + win).as("e1"))
      val purs = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"),
          unix_micros(col("ts")).as("s2"),
          (unix_micros(col("ts")) + win).as("e2"))
      RangeJoin.intervalOverlap(errs, purs, "s1", "e1", "s2", "e2", win)
        .select(col("err_id"), col("pur_id"),
          (least(col("e1"), col("e2")) -
            greatest(col("s1"), col("s2"))).as("overlap_us"))
    }),
    "st_mode" -> ((s, d) =>
      Stats.modePerGroup(Tables.lineitem(s, d), "l_returnflag", "l_quantity")),
    "st_winsorize" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Stats.winsorize(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("value_w"), col("clipped"))
    }),
    // ---- I. warehouse maintenance (SCD2 / CDC) ----
    // events as the dimension change stream: per-user event_type versions
    "dwh_scd2" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Dwh.scd2Build(Tables.events(s, d), "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
    }),
    "dwh_scd6" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Dwh.scd6View(Tables.events(s, d), "user_id", "event_type", "ts",
        "event_id")
        .select(col("user_id"), col("hist_state"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"), col("current_state"))
    }),
    "st_ttest_paired" -> ((s, d) =>
      Stats.pairedTTest(Tables.events(s, d))),
    // incremental SCD2: history built from the early half, the late half
    // merged in via scd2Apply — must reproduce the full rebuild (the
    // oracle is the same full-history SQL as dwh_scd2)
    "dwh_scd2_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val split = lit("2024-01-16").cast("timestamp")
      val existing = Dwh.scd2Build(ev.filter(col("ts") < split),
        "user_id", "event_type", "ts", "event_id")
      Dwh.scd2Apply(existing, ev.filter(col("ts") >= split),
        "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
    }),
    // events as a CDC changelog applied to the customer snapshot:
    // signup=insert, error=delete, rest=update; latest op per key wins
    "dwh_cdc_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val changes = Tables.events(s, d).select(
        col("user_id").as("c_custkey"),
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I")
          .otherwise("U").as("op"),
        col("event_type").as("new_state"), col("ts"), col("event_id"))
      Dwh.cdcApply(Tables.customer(s, d), changes,
        "c_custkey", "c_mktsegment", "op", "new_state", "ts", "event_id")
    }),
    // snapshot-only source: recover the changelog by diffing two
    // deterministic snapshot versions of the customer dimension
    "dwh_snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cust = Tables.customer(s, d)
      val old = cust.select(col("c_custkey"), col("c_mktsegment"))
      val fresh = cust.filter(col("c_custkey") % 97 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
        .unionByName(cust.filter(col("c_custkey") % 101 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("FRESH").as("c_mktsegment")))
      Dwh.snapshotDiff(old, fresh, "c_custkey", "c_mktsegment")
    }),
    // surrogate-key assignment: customers outside the seeded dim (every
    // third key) arriving via orders get dense keys past max(sk)
    "dwh_surrogate" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val dim = Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("nat_key"),
          (col("c_custkey") * 7).as("sk"))
      val incoming = Tables.orders(s, d).select(col("o_custkey").as("nat_key"))
      Dwh.assignSurrogates(dim, incoming, "nat_key", "sk")
    }),
    // point-in-time feature join: each event picks the SCD2 version of
    // its user's state valid at its timestamp ([from, to) semantics)
    "dwh_pit" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val dim = Dwh.scd2Build(ev, "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type").as("dim_state"),
          col("valid_from"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"))
      val facts = ev.select(col("event_id"), col("user_id"), col("ts"))
      Dwh.pitJoin(facts, dim, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("matched.dim_state").as("dim_state"),
          col("matched.valid_from_us").as("valid_from_us"),
          col("matched.valid_to_us").as("valid_to_us"))
    }),
    "ts_hw" -> ((s, d) =>
      Resample.holtWinters(Tables.events(s, d), 0.3, 0.1, 0.3, 24)),
    // ---- J. quality / observability ----
    "dq_expect" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, d)
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate")
      // deterministic seeded violations (mirrored in the oracle CTE):
      // negative qty, nulled shipdate, orphaned keys, duplicated pks
      val dirty = li.select(
        when(col("l_orderkey") % 983 === 0, -col("l_orderkey"))
          .otherwise(col("l_orderkey")).as("l_orderkey"),
        col("l_linenumber"),
        when(col("l_orderkey") % 997 === 0, -col("l_quantity"))
          .otherwise(col("l_quantity")).as("l_quantity"),
        col("l_extendedprice"), col("l_discount"),
        when(col("l_orderkey") % 991 === 0, lit(null))
          .otherwise(col("l_shipdate")).as("l_shipdate"))
        .unionByName(
          li.filter(col("l_orderkey") % 977 === 0)
            .select(cols.map(col): _*))
      Quality.expectations(dirty, Tables.orders(s, d))
    }),
    "dwh_forget" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, to_date}
      // deterministic scratch lake (events by day), then erase one
      // deterministic user stripe; the audit frame is the contract row
      val p = scratch(d, "forget_lake")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("day"))
        .write.mode("overwrite").partitionBy("day").parquet(p)
      val keys = Tables.events(s, d)
        .filter(col("user_id") % 50 === 7).select("user_id").distinct()
      Dwh.forgetKeys(s, p, keys, "user_id", Seq("day"))
    }),
    "dwh_retention" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, to_date}
      val p = scratch(d, "retention_lake")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("day"))
        .write.mode("overwrite").partitionBy("day").parquet(p)
      Dwh.retentionSweep(s, p, "day", "2024-01-08")
    }),
    "dwh_mv_refresh" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val o = Tables.orders(s, d)
      def dailyAgg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum("o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      // standing view = the historical 6/7ths; delta = today's drop
      val view = dailyAgg(o.filter(col("o_orderkey") % 7 =!= 0))
      val delta = dailyAgg(o.filter(col("o_orderkey") % 7 === 0))
      Dwh.mvRefresh(view, delta, Seq("day"), Seq("revenue", "n_orders"))
        .select(col("day"), round(col("revenue"), 2).as("revenue"),
          col("n_orders"))
    }),
    "dq_drift" -> ((s, d) =>
      Quality.drift(Tables.events(s, d), "2024-01-16")),
    "dq_schema_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // simulated upstream contract break: props dropped, session_id
      // added, value re-typed — mirrored literally in the oracle
      val old = Tables.events(s, d)
      val neu = old.drop("props")
        .withColumn("session_id", lit(1L))
        .withColumn("value", col("value").cast("string"))
      Quality.schemaDrift(old, neu)
    }),
    "dq_freshness" -> ((s, d) => Quality.freshness(Tables.events(s, d))),
    "dq_integrity" -> ((s, d) => {
      def rel(name: String, child: org.apache.spark.sql.DataFrame,
              ck: String, parent: org.apache.spark.sql.DataFrame,
              pk: String) =
        Quality.referentialIntegrity(name, child, ck, parent, pk)
      rel("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey")
        .unionByName(rel("lineitem->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"))
        .unionByName(rel("lineitem->part", Tables.lineitem(s, d),
          "l_partkey", Tables.part(s, d), "p_partkey"))
        .unionByName(rel("customer->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey"))
        .unionByName(rel("supplier->nation", Tables.supplier(s, d),
          "s_nationkey", Tables.nation(s, d), "n_nationkey"))
    }),
    "dq_completeness" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // deterministic seeded nulls (mirrored in the oracle CTE) — the
      // base tables ship null-free, so the report profiles a dirty twin
      val dirty = Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        when(col("event_id") % 991 === 0, lit(null))
          .otherwise(col("value")).as("value"),
        when(col("event_id") % 983 === 0, lit(null))
          .otherwise(col("props")).as("props"),
        col("event_type"))
      Quality.completeness(dirty,
        Seq("event_id", "user_id", "value", "props", "event_type"))
    }),
    "dq_uniqueness" -> ((s, d) => Quality.uniqueness(Seq(
      ("orders", Tables.orders(s, d), Seq("o_orderkey")),
      ("customer", Tables.customer(s, d), Seq("c_custkey")),
      ("lineitem", Tables.lineitem(s, d), Seq("l_orderkey", "l_linenumber")),
      ("lineitem_orderkey", Tables.lineitem(s, d), Seq("l_orderkey")),
      ("events", Tables.events(s, d), Seq("event_id")),
      ("documents", Tables.documents(s, d), Seq("doc_id"))))),
    "w10_retention" -> ((s, d) =>
      Windows.cohortRetention(Tables.events(s, d))),
    "w11_path" -> ((s, d) => Windows.journeyPaths(Tables.events(s, d))),
    "w12_markov" -> ((s, d) => Windows.transitionMatrix(Tables.events(s, d))),
    "w13_rfm" -> ((s, d) => Windows.rfmSegments(Tables.events(s, d))),
    "ts_anomaly" -> ((s, d) => Resample.tsAnomaly(Tables.events(s, d))),
    "ts_xcorr" -> ((s, d) =>
      Resample.crossCorrelation(Tables.events(s, d), "click", "purchase")),
    "ts_seasonal" -> ((s, d) =>
      Resample.seasonalDecompose(Tables.events(s, d))),
    "ts_cusum" -> ((s, d) =>
      Resample.cusumChangepoint(Tables.events(s, d))),
    "ts_gaps" -> ((s, d) =>
      Resample.interArrivalStats(Tables.events(s, d))),
    "ts_theil_sen" -> ((s, d) => Resample.theilSen(Tables.events(s, d))),
    "ts_rolling_corr" -> ((s, d) =>
      Resample.rollingCorrelation(Tables.events(s, d), "click", "purchase")),
    "ts_acf" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // autocorrelation = cross-correlation of a series with itself;
      // keep the non-negative lags (ACF is symmetric)
      Resample.crossCorrelation(Tables.events(s, d), "click", "click",
        maxLag = 12).filter(col("lag") >= 0)
    }),
    "st_chi2" -> ((s, d) =>
      Stats.chiSquare(Tables.documents(s, d), "lang", "source")),
    "st_mi" -> ((s, d) =>
      Stats.mutualInformation(Tables.documents(s, d), "lang", "source")),
    "st_cramers_v" -> ((s, d) =>
      Stats.cramersV(Tables.documents(s, d), "lang", "source")),
    "st_benford" -> ((s, d) =>
      Stats.benford(Tables.orders(s, d), "o_totalprice")),
    "st_jarque_bera" -> ((s, d) =>
      Stats.jarqueBera(Tables.events(s, d), "event_type", "value")),
    "st_cohens_d" -> ((s, d) =>
      Stats.cohensD(Tables.events(s, d), "event_type", "value")),
    "st_levene" -> ((s, d) =>
      Stats.brownForsythe(Tables.events(s, d), "event_type", "value")),
    "st_auc" -> ((s, d) =>
      Stats.auc(Tables.documents(s, d), "lang", "n_chars", "en", "fr")),
    "ts_burstiness" -> ((s, d) => Resample.burstiness(Tables.events(s, d))),
    "pipe_chunk" -> ((s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d))),
    "dd_reweight" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.reweightByCluster(docs, Dedup.ngramJaccardPairs(docs, 3, 0.2))
    }),
    "dd_dup_by_source" -> ((s, d) =>
      Dedup.dupRateBySource(Tables.documents(s, d))),
    "st_spearman" -> ((s, d) =>
      Stats.spearman(Tables.lineitem(s, d), "l_quantity",
        "l_extendedprice")),
    "gr_pagerank" -> ((s, d) => Graph.pageRank(coPurchaseEdges(s, d))),
    "gr_katz" -> ((s, d) => Graph.katzCentrality(coPurchaseEdges(s, d))),
    "gr_eigenvector" -> ((s, d) =>
      Graph.eigenvectorCentrality(coPurchaseEdges(s, d))),
    "gr_ppr" -> ((s, d) =>
      Graph.personalizedPageRank(coPurchaseEdges(s, d))),
    "gr_betweenness" -> ((s, d) =>
      Graph.betweennessSampled(coPurchaseEdges(s, d))),
    "gr_squares" -> ((s, d) =>
      Graph.bipartiteSquares(coPurchaseEdges(s, d))),
    "gr_adamic_adar" -> ((s, d) =>
      Graph.adamicAdarLinks(coSupplyEdges(s, d), 20)),
    "gr_lpa" -> ((s, d) => Graph.labelPropagation(coPurchaseEdges(s, d))),
    "gr_modularity" -> ((s, d) => {
      val e = coPurchaseEdges(s, d)
      Graph.modularity(e, Graph.labelPropagation(e))
    }),
    "gr_conductance" -> ((s, d) => {
      val e = coPurchaseEdges(s, d)
      Graph.conductance(e, Graph.labelPropagation(e))
    }),
    "dq_observe" -> ((s, d) => Quality.observedProfile(Tables.events(s, d))),
    "gr_degree" -> ((s, d) => Graph.degreeHistogram(coPurchaseEdges(s, d))),
    "gr_powerlaw" -> ((s, d) => Graph.powerLawFit(coPurchaseEdges(s, d))),
    "gr_diameter" -> ((s, d) =>
      Graph.diameterEstimate(repeatBusinessEdges(s, d, 2))),
    "gr_reciprocity" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // customer→supplier at ≥2 shared orders; the supplier only
      // "reciprocates" at ≥3 — reciprocity is the ≥3 share, exactly
      val fwd = repeatBusinessDirected(s, d, 2)
      val back = repeatBusinessDirected(s, d, 3)
        .select(col("dst").as("src"), col("src").as("dst"))
      Graph.reciprocity(fwd.unionByName(back))
    }),
    "st_hll_intersect" -> ((s, d) =>
      Stats.hllIntersect(Tables.events(s, d))),
    "st_capture_recapture" -> ((s, d) =>
      Stats.captureRecapture(Tables.events(s, d))),
    "st_overdispersion" -> ((s, d) =>
      Stats.overdispersion(Tables.events(s, d))),
    "gr_hits" -> ((s, d) =>
      Graph.hits(repeatBusinessDirected(s, d, 2), iterations = 3)),
    "gr_random_walks" -> ((s, d) =>
      Graph.randomWalks(coPurchaseEdges(s, d), steps = 3)),
    "w22_distribution_rank" -> ((s, d) =>
      Windows.distributionRank(Tables.events(s, d))),
    "st_bootstrap" -> ((s, d) =>
      Stats.bootstrapCI(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"))),
    "st_permutation" -> ((s, d) =>
      Stats.permutationTest(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "R", "N", Seq("l_orderkey", "l_linenumber"))),
    "gr_triangles" -> ((s, d) => Graph.triangleStats(coSupplyEdges(s, d))),
    "gr_local_cc" -> ((s, d) => Graph.localClustering(coSupplyEdges(s, d))),
    "gr_richclub" -> ((s, d) => Graph.richClub(coSupplyEdges(s, d))),
    "gr_embeddedness" -> ((s, d) =>
      Graph.edgeEmbeddedness(coSupplyEdges(s, d))),
    "gr_jaccard" -> ((s, d) => Graph.jaccardLinks(coSupplyEdges(s, d), 20)),
    "gr_kcore" -> ((s, d) => Graph.kCore(coSupplyEdges(s, d), 3)),
    // maxIters pinned to 10 = the oracle's unroll depth (c1..c10): the
    // H-index iteration is monotone non-increasing toward a fixpoint,
    // so early convergence at round k<10 equals c10 exactly, and a
    // graph needing >10 rounds gets the SAME truncated c10 on both
    // engines — agreement is structural, not convergence-dependent
    "gr_coreness" -> ((s, d) =>
      Graph.coreness(coSupplyEdges(s, d), maxIters = 10)),
    "gr_assortativity" -> ((s, d) => Graph.assortativity(coSupplyEdges(s, d))),
    "gr_components" -> ((s, d) =>
      // repeat-business graph (≥4 shared orders) — sparse enough to
      // fragment into many components, unlike the full co-purchase graph
      Graph.components(repeatBusinessEdges(s, d, 4))),
    "gr_closeness" -> ((s, d) =>
      Graph.harmonicCentrality(repeatBusinessEdges(s, d, 2))),
    "gr_bfs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // bipartite repeat-business graph (≥2 shared orders) with a
      // deterministic seed stripe; depth-4 min-hop histogram
      val edges = repeatBusinessEdges(s, d, 2)
      val seeds = edges.select(col("src").as("node"))
        .filter(col("node") % 29 === 0)
      Graph.bfs(edges, seeds, maxDepth = 4)
    }),
    "tx_zipf" -> ((s, d) => TextAnalysis.zipfFit(Tables.documents(s, d))),
    "tx_lexdiv" -> ((s, d) =>
      TextAnalysis.lexicalDiversity(Tables.documents(s, d))),
    "st_ks" -> ((s, d) =>
      Stats.ksTest(Tables.events(s, d), "event_type", "value", "click", "view")),
    "st_mwu" -> ((s, d) =>
      Stats.mannWhitneyU(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "st_kruskal" -> ((s, d) =>
      Stats.kruskalWallis(Tables.events(s, d), "event_type", "value")),
    "st_kendall" -> ((s, d) => Stats.kendallTau(Tables.events(s, d))),
    "st_ols2" -> ((s, d) =>
      Stats.ols2(Tables.lineitem(s, d), "l_extendedprice", "l_quantity",
        "l_discount")),
    "st_km" -> ((s, d) => Stats.kaplanMeier(Tables.events(s, d))),
    "st_friedman" -> ((s, d) => Stats.friedman(Tables.events(s, d))),
    "st_page" -> ((s, d) => Stats.pageTrend(Tables.events(s, d))),
    "st_ad" -> ((s, d) =>
      Stats.andersonDarling(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "st_hoeffding" -> ((s, d) => Stats.hoeffdingD(Tables.events(s, d))),
    "st_mood" -> ((s, d) =>
      Stats.moodMedian(Tables.events(s, d), "event_type", "value")),
    "st_ansari" -> ((s, d) =>
      Stats.ansariBradley(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "st_grubbs" -> ((s, d) => Stats.grubbs(Tables.events(s, d))),
    "st_somers_d" -> ((s, d) => Stats.somersD(Tables.events(s, d))),
    "st_quade" -> ((s, d) => Stats.quade(Tables.events(s, d))),
    "ts_recurrence" -> ((s, d) =>
      Resample.recurrenceMetrics(Tables.events(s, d))),
    "ts_kpss" -> ((s, d) => Resample.kpssTest(Tables.events(s, d))),
    "st_breslow_day" -> ((s, d) => Stats.breslowDay(Tables.events(s, d))),
    "ts_adf" -> ((s, d) => Resample.adfTest(Tables.events(s, d))),
    "ts_pettitt" -> ((s, d) => Resample.pettitt(Tables.events(s, d))),
    "ts_sampen" -> ((s, d) =>
      Resample.sampleEntropy(Tables.events(s, d))),
    // Murphy decomposition of the SAME probe score ml_calibration bins
    "ml_brier_decomp" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.brierDecomposition(e,
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"))
    }),
    "st_cochran_q" -> ((s, d) => Stats.cochranQ(Tables.events(s, d))),
    "st_theil" -> ((s, d) =>
      Stats.theilIndex(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice")),
    "st_bh_battery" -> ((s, d) =>
      Stats.welchBatteryBH(Tables.events(s, d), "event_type", "value")),
    "st_holm_battery" -> ((s, d) =>
      Stats.welchBatteryHolm(Tables.events(s, d), "event_type", "value")),
    "st_power" -> ((s, d) => Stats.powerAnalysis(Tables.events(s, d))),
    "st_avg_precision" -> ((s, d) =>
      Stats.averagePrecision(Tables.documents(s, d), "lang", "n_chars",
        "en")),
    "q34_division" -> ((s, d) =>
      Relational.divisionActiveEveryMonth(Tables.orders(s, d))),
    "q36_hierarchy" -> ((s, d) =>
      Relational.hierarchyFlatten(Tables.customer(s, d))),
    "q37_map_agg" -> ((s, d) =>
      Relational.mapAggRevenue(Tables.lineitem(s, d))),
    "q38_array_hof" -> ((s, d) =>
      Relational.arrayHofOrderStats(Tables.lineitem(s, d))),
    "src_json_corrupt" -> ((s, d) =>
      sources.Lake.corruptJsonAudit(s, Tables.orders(s, d),
        scratch(d, "json_corrupt"))),
    "st_prop_test" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Stats.propTest(Tables.events(s, d), "event_type",
        col("value") > 50, "click", "view")
    }),
    "w23_new_returning" -> ((s, d) =>
      Windows.newVsReturning(Tables.events(s, d))),
    "pipe_dataset_card" -> ((s, d) =>
      Quality.datasetCard(Tables.documents(s, d))),
    "mm_batch_infer" -> ((s, d) =>
      Multimodal.batchInferSummary(Tables.documents(s, d))),
    "pipe_budget" -> ((s, d) =>
      TextAnalysis.tokenBudgetSelect(Tables.documents(s, d))),
    "dwh_accumulating" -> ((s, d) =>
      Dwh.accumulatingSnapshot(Tables.events(s, d))),
    "dwh_semi_additive" -> ((s, d) =>
      Dwh.semiAdditiveBalance(Tables.events(s, d))),
    "dwh_bridge" -> ((s, d) =>
      Dwh.bridgeAllocation(Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.part(s, d))),
    "dwh_late_arriving" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      // simulate the load race on the customer dim: keys %10==0 miss
      // the on-time load; half of those (%20==0) arrive in a late batch
      val cust = Tables.customer(s, d)
      Dwh.lateArrivingDim(Tables.orders(s, d), "o_custkey",
        "o_totalprice",
        cust.filter(col("c_custkey") % 10 =!= 0), "c_custkey",
        cust.filter(col("c_custkey") % 20 === 0))
    }),
    "dwh_drill_across" -> ((s, d) =>
      Dwh.drillAcross(Tables.orders(s, d), Tables.events(s, d))),
    "dq_plan_metrics" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // a deterministic scan→filter→agg pipeline: the report shows the
      // row waterfall (scan N → filter <N → partial agg → 3 groups)
      Quality.planMetrics(Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n")))
    }),
    "q35_basket" -> ((s, d) =>
      Relational.associationRules(Tables.lineitem(s, d))),
    "ml_nb" -> ((s, d) =>
      TextAnalysis.naiveBayesLangEval(Tables.documents(s, d))),
    "ml_kappa" -> ((s, d) =>
      Stats.cohensKappa(
        TextAnalysis.naiveBayesLangEval(Tables.documents(s, d)),
        "true_lang", "pred_lang", "n")),
    "ml_confusion" -> ((s, d) =>
      Stats.classifierReport(
        TextAnalysis.naiveBayesLangEval(Tables.documents(s, d)),
        "true_lang", "pred_lang", "n")),
    "ml_roc" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.rocLadder(Tables.embeddings(s, d),
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"))
    }),
    "ml_calibration" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      // deterministic probe score: logistic link on the 1e-3-quantized
      // first coordinate (q1/200 spans ≈ ±1.9 → scores ≈ 0.13..0.87);
      // binarized concept: labels 0-4 positive
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.calibrationReport(e,
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"))
    }),
    // isotonic recalibration of the same probe score ml_calibration
    // bins — PAVA in exact integer arithmetic (unique L2 projection,
    // so the oracle's first-violator recursion lands on identical
    // numbers regardless of merge order)
    "ml_isotonic" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.isotonicCalibration(e,
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"))
    }),
    // log loss + adaptive-ECE over the SAME probe score the
    // calibration family shares (one quantized-coordinate logistic)
    "ml_log_loss" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.logLoss(e,
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"))
    }),
    "ml_ece_adaptive" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.calibrationAdaptive(e,
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"), col("vec_id"))
    }),
    "st_median_test" -> ((s, d) => Stats.medianTest(Tables.events(s, d))),
    "st_runs_updown" -> ((s, d) => Stats.runsUpDown(Tables.events(s, d))),
    "st_quartile_skew" -> ((s, d) =>
      Stats.quartileSkew(Tables.events(s, d))),
    // day-of-week effect on click values: the generic one-way F over
    // dow groups — "is there a weekly cycle worth modeling" (the
    // hypothesis-test companion of ts_hod_dow's descriptive profile)
    "ts_dow_anova" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Stats.anovaF(Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(pmod(expr("unix_date(cast(ts as date))").cast("long"),
          lit(7L)).as("dow"), col("value")),
        "dow", "value")
    }),
    "w31_dwell" -> ((s, d) => Resample.dwellByType(Tables.events(s, d))),
    "ts_autocorr_time" -> ((s, d) =>
      Resample.autocorrTime(Tables.events(s, d))),
    "dd_jaccard_hist" -> ((s, d) =>
      Dedup.jaccardHistogram(Tables.documents(s, d))),
    "gr_degree_gini" -> ((s, d) =>
      Graph.degreeGini(coPurchaseEdges(s, d))),
    "tx_wordlen_hist" -> ((s, d) =>
      TextAnalysis.wordLengthHistogram(Tables.documents(s, d))),
    "tx_vocab_gini" -> ((s, d) =>
      TextAnalysis.vocabGini(Tables.documents(s, d))),
    "dd_prefix_dup" -> ((s, d) =>
      Dedup.prefixDupGroups(Tables.documents(s, d))),
    "st_cvm" -> ((s, d) =>
      Stats.cramerVonMises(Tables.events(s, d), "event_type", "value",
        "click", "view")),
    "st_tukey_hsd" -> ((s, d) =>
      Stats.tukeyHsd(Tables.events(s, d), "event_type", "value",
        qCrit = 3.86)),
    "st_bartlett" -> ((s, d) =>
      Stats.bartlettTest(Tables.events(s, d), "event_type", "value")),
    "st_g_test" -> ((s, d) =>
      Stats.gTest(Tables.documents(s, d), "lang", "source")),
    "ml_ndcg" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      // deterministic probe ranking: query = label class, score from
      // the 1e-3-quantized first coordinate, graded relevance 0..3
      // from the second (same quantization — both engine-exact ints)
      Stats.ndcgAtK(e, col("label"),
        round(element_at(col("embedding").cast("array<double>"), 1)
          * 1000).cast("long"),
        pmod(round(element_at(col("embedding").cast("array<double>"), 2)
          * 1000).cast("long"), lit(4L)),
        col("vec_id"))
    }),
    "ml_mcc" -> ((s, d) =>
      Stats.mccMulticlass(
        TextAnalysis.naiveBayesLangEval(Tables.documents(s, d)),
        "true_lang", "pred_lang", "n")),
    "ml_fairness" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.fairnessSlices(Tables.embeddings(s, d),
        pmod(col("vec_id"), lit(3L)).cast("int"),
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"))
    }),
    "ml_cost_threshold" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val q1 = round(element_at(
        col("embedding").cast("array<double>"), 1) * 1000).cast("long")
      Stats.costThreshold(Tables.embeddings(s, d),
        lit(1.0) / (lit(1.0) + exp(-(q1 / lit(200.0)))),
        (col("label") < 5).cast("int"))
    }),
    "ml_mrr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      Stats.mrr(e, col("label"),
        round(element_at(col("embedding").cast("array<double>"), 1)
          * 1000).cast("long"),
        pmod(round(element_at(col("embedding").cast("array<double>"), 2)
          * 1000).cast("long"), lit(4L)),
        col("vec_id"))
    }),
    "st_ccc" -> ((s, d) => Stats.linCcc(Tables.events(s, d))),
    "st_deming" -> ((s, d) => Stats.demingRegression(Tables.events(s, d))),
    "st_distance_corr" -> ((s, d) =>
      Stats.distanceCorrelation(Tables.events(s, d))),
    "st_energy_dist" -> ((s, d) =>
      Stats.energyDistance(Tables.events(s, d))),
    "ts_circular" -> ((s, d) => Stats.circularTime(Tables.events(s, d))),
    "st_sign_test" -> ((s, d) => Stats.signTest(Tables.events(s, d))),
    "st_cochran_armitage" -> ((s, d) =>
      Stats.cochranArmitage(Tables.events(s, d))),
    "st_ancova" -> ((s, d) => Stats.ancovaAdjustedMeans(Tables.events(s, d))),
    "st_poisson_2rate" -> ((s, d) =>
      Stats.poissonTwoRate(Tables.events(s, d))),
    "st_wilson_ci" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Stats.wilsonCi(Tables.events(s, d), "event_type",
        col("value") > 95.0)
    }),
    "st_mahalanobis" -> ((s, d) =>
      Stats.mahalanobisOutliers(Tables.events(s, d))),
    "st_bland_altman" -> ((s, d) =>
      Stats.blandAltman(Tables.events(s, d))),
    // probe list is the contract's known event domain — the operator
    // itself never collects a value-cardinality frame (sketch-only)
    "st_cms" -> ((s, d) =>
      Stats.cmsFrequencies(Tables.events(s, d), "event_type",
        Seq("click", "error", "purchase", "signup", "view"))),
    "pipe_decontaminate" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextAnalysis.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 5, minShared = 10)
    }),
  )

  /** Scratch dir for sink round-trips under `target/graft_io` of the
    * working directory, keyed by sf dir to avoid cross-scale
    * contamination. */
  private def scratch(sfDir: String, name: String): String =
    new java.io.File(s"target/graft_io/${new java.io.File(sfDir).getName}/$name")
      .getAbsolutePath

  /** DuckDB twins of `queries` (identical aliases + rounding — SURVEY §5). */
  /** ml_nb's oracle, shared verbatim by ml_kappa (κ is a projection of
    * the same confusion matrix — one definition, two checks). */
  /** st_ipf oracle: the six nano-unit scalings unrolled (generated —
    * the ts_ses_grid replayable-recurrence discipline). */
  private val StIpfOracleSql: String = {
    val steps = new StringBuilder
    var prev = "w0"
    var idx = 0
    for (_ <- 1 to 3; (key, k) <- Seq(("r", "kr"), ("cgrp", "kc"))) {
      idx += 1
      val sums = s"s$idx"; val next = s"w$idx"
      steps.append(s""",
         $sums AS (SELECT $key, sum(CAST(n AS HUGEINT) * w9) AS s
           FROM $prev GROUP BY 1),
         $next AS (SELECT r, cgrp, n,
             CAST(round(CAST(CAST(tt AS HUGEINT) * w9 * 1000000000
                 AS DOUBLE)
               / (CAST($k AS DOUBLE) * CAST(s AS DOUBLE))) AS BIGINT)
               AS w9
           FROM $prev JOIN $sums USING ($key) CROSS JOIN tot)""")
      prev = next
    }
    s"""WITH cells AS (SELECT event_type AS r,
         CAST(epoch(CAST(ts AS DATE)) // 86400 % 7 AS BIGINT) AS cgrp,
         CAST(count(*) AS BIGINT) AS n
       FROM events GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt,
             CAST(count(DISTINCT r) AS BIGINT) AS kr,
             CAST(count(DISTINCT cgrp) AS BIGINT) AS kc FROM cells),
         w0 AS (SELECT r, cgrp, n, CAST(1000000000 AS BIGINT) AS w9
           FROM cells)${steps.toString}
       SELECT r AS event_type, cgrp AS dow, n,
         floor(w9 / 1000.0 + 0.5) / 1e6 AS weight FROM $prev"""
  }

  private val MlKmeansAssignSql: String =
    """WITH vv AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
         v AS (SELECT vec_id, q,
             list_aggregate(list_transform(q, y -> y*y), 'sum') AS ssq
           FROM vv),
         sd AS (SELECT q, ssq, row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
           FROM v),
         c0 AS (SELECT cell, list_transform(q,
             y -> CAST(floor(y*1000000.0/sqrt(ssq) + 0.5) AS BIGINT)) AS c
           FROM sd WHERE cell < 8),
         cc0 AS (SELECT cell, c,
             list_aggregate(list_transform(c, y -> y*y), 'sum') AS cssq
           FROM c0),
         a1 AS (SELECT vec_id, q, ssq, cell,
             list_aggregate(list_transform(list_zip(q, c),
               s -> s[1]*s[2]), 'sum') / (sqrt(ssq) * sqrt(cssq)) AS cos
           FROM v CROSS JOIN cc0),
         b1 AS (SELECT vec_id, q, ssq, cell FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, cell) AS rn FROM a1) WHERE rn = 1),
         e1 AS (SELECT cell, unnest(generate_series(1, len(q))) AS pos,
             unnest(q) AS x FROM b1),
         s1 AS (SELECT cell, pos, CAST(sum(x) AS BIGINT) AS sx
           FROM e1 GROUP BY 1, 2),
         m1 AS (SELECT cell, list(sx ORDER BY pos) AS sl
           FROM s1 GROUP BY 1),
         cm AS (SELECT cell, list_transform(sl,
             y -> CAST(floor(0.5 + y*1000000.0 / sqrt(list_aggregate(
               list_transform(sl, z -> z*z), 'sum'))) AS BIGINT)) AS c
           FROM m1),
         c1 AS (SELECT c0.cell, coalesce(cm.c, c0.c) AS c
           FROM c0 LEFT JOIN cm ON c0.cell = cm.cell),
         cc1 AS (SELECT cell, c,
             list_aggregate(list_transform(c, y -> y*y), 'sum') AS cssq
           FROM c1),
         a2 AS (SELECT vec_id, cell,
             list_aggregate(list_transform(list_zip(q, c),
               s -> s[1]*s[2]), 'sum') / (sqrt(ssq) * sqrt(cssq)) AS cos
           FROM v CROSS JOIN cc1),
         b2x AS (SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY cos DESC, cell) AS rn FROM a2)
         SELECT vec_id, cell, cos FROM b2x WHERE rn = 1"""

  private val MlNbOracleSql: String =
    """WITH docs AS (SELECT doc_id, lang, text,
             substr(md5('nb' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
               AS is_train
           FROM documents),
         tok AS (SELECT doc_id, lang, is_train,
             unnest(string_split(text, ' ')) AS tok
           FROM docs),
         tc AS (SELECT tok, lang, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE is_train GROUP BY 1, 2),
         lt AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
           FROM tok WHERE is_train GROUP BY 1),
         vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
           FROM tok WHERE is_train),
         ltv AS (SELECT lang, nl, v,
             CAST(round(ln(1.0 / (nl + v)) * 1e6) AS BIGINT) AS lp_unseen
           FROM lt CROSS JOIN vocab),
         model AS (SELECT tc.tok, tc.lang,
             CAST(round(ln((c + 1.0) / (nl + v)) * 1e6) AS BIGINT) AS lp
           FROM tc JOIN ltv USING (lang)),
         ntr AS (SELECT CAST(count(*) AS BIGINT) AS n_train
           FROM docs WHERE is_train),
         priors AS (SELECT lang AS cls,
             CAST(round(ln(CAST(nd AS DOUBLE) / n_train) * 1e6) AS BIGINT)
               AS lp_prior
           FROM (SELECT lang, CAST(count(*) AS BIGINT) AS nd
                 FROM docs WHERE is_train GROUP BY 1)
             CROSS JOIN ntr),
         cls AS (SELECT lang AS cls, lp_unseen FROM ltv),
         sc AS (SELECT t.doc_id, t.lang AS true_lang, c.cls,
             CAST(sum(coalesce(m.lp, c.lp_unseen)) AS BIGINT) AS ll
           FROM tok t CROSS JOIN cls c
           LEFT JOIN model m ON m.tok = t.tok AND m.lang = c.cls
           WHERE NOT t.is_train
           GROUP BY 1, 2, 3),
         sp AS (SELECT sc.doc_id, sc.true_lang, sc.cls,
             ll + lp_prior AS score
           FROM sc JOIN priors USING (cls)),
         pred AS (SELECT doc_id, true_lang, cls AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, cls DESC) AS rn
           FROM sp)
         SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         FROM pred WHERE rn = 1 GROUP BY 1, 2"""

  def oracleSql: Map[String, String] = Map(
    "pipe_scaling_law" ->
      """WITH fr AS (SELECT * FROM (VALUES ('f10', '1a'), ('f20', '33'),
             ('f40', '66'), ('f80', 'cd')) t(frac, thresh)),
         docs AS (SELECT doc_id, lang, text,
             substr(md5('nb' || CAST(doc_id AS VARCHAR)), 1, 2) AS h2
           FROM documents),
         tok AS (SELECT doc_id, lang, h2,
             unnest(string_split(text, ' ')) AS tok FROM docs),
         ttok AS (SELECT fr.frac, t.* FROM tok t
           JOIN fr ON t.h2 < fr.thresh),
         tc AS (SELECT frac, tok, lang, CAST(count(*) AS BIGINT) AS c
           FROM ttok GROUP BY 1, 2, 3),
         lt AS (SELECT frac, lang, CAST(count(*) AS BIGINT) AS nl
           FROM ttok GROUP BY 1, 2),
         vocab AS (SELECT frac, CAST(count(DISTINCT tok) AS BIGINT) AS v
           FROM ttok GROUP BY 1),
         ltv AS (SELECT lt.frac, lang, nl, v,
             CAST(round(ln(1.0 / (nl + v)) * 1e6) AS BIGINT) AS lp_unseen
           FROM lt JOIN vocab ON lt.frac = vocab.frac),
         model AS (SELECT tc.frac, tc.tok, tc.lang AS cls,
             CAST(round(ln((c + 1.0) / (nl + v)) * 1e6) AS BIGINT) AS lp
           FROM tc JOIN ltv ON tc.frac = ltv.frac AND tc.lang = ltv.lang),
         tdocs AS (SELECT fr.frac, d.doc_id, d.lang FROM docs d
           JOIN fr ON d.h2 < fr.thresh),
         ntr AS (SELECT frac, CAST(count(*) AS BIGINT) AS n_train
           FROM tdocs GROUP BY 1),
         priors AS (SELECT p.frac, p.lang AS cls,
             CAST(round(ln(CAST(nd AS DOUBLE) / n_train) * 1e6)
               AS BIGINT) AS lp_prior
           FROM (SELECT frac, lang, CAST(count(*) AS BIGINT) AS nd
                 FROM tdocs GROUP BY 1, 2) p
           JOIN ntr ON p.frac = ntr.frac),
         cls AS (SELECT frac, lang AS cls, lp_unseen FROM ltv),
         sc AS (SELECT c.frac, t.doc_id, t.lang AS true_lang, c.cls,
             CAST(sum(coalesce(m.lp, c.lp_unseen)) AS BIGINT) AS ll
           FROM tok t CROSS JOIN cls c
           LEFT JOIN model m ON m.frac = c.frac AND m.tok = t.tok
             AND m.cls = c.cls
           WHERE t.h2 >= 'cd' GROUP BY 1, 2, 3, 4),
         sp AS (SELECT sc.frac, doc_id, true_lang, sc.cls,
             ll + lp_prior AS score
           FROM sc JOIN priors ON sc.frac = priors.frac
             AND sc.cls = priors.cls),
         pred AS (SELECT frac, doc_id, true_lang, cls,
             row_number() OVER (PARTITION BY frac, doc_id
               ORDER BY score DESC, cls DESC) AS rn
           FROM sp),
         acc AS (SELECT frac, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN true_lang = cls THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct
           FROM pred WHERE rn = 1 GROUP BY 1)
         SELECT a.frac, n.n_train, a.n_test, a.n_correct,
           round(CAST(n_correct AS DOUBLE) / n_test, 6) AS accuracy
         FROM acc a JOIN ntr n ON a.frac = n.frac""",
    "dwh_role_playing" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS BIGINT) / 100.0, 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2""",
    "st_bartlett" ->
      """WITH g AS (SELECT event_type AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
               * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
           FROM events GROUP BY 1),
         g2 AS (SELECT grp, n,
             CAST(floor(CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n + 0.5)
               AS BIGINT) AS ssq
           FROM g),
         g3 AS (SELECT grp, n, ssq,
             CAST(ssq AS DOUBLE) / 1e4 / (n - 1) AS s2i
           FROM g2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ssq) AS BIGINT) AS ssw_q,
             CAST(sum(CAST(round((n - 1) * ln(s2i) * 1e6) AS BIGINT))
               AS BIGINT) AS lnsum_u,
             CAST(sum(CAST(floor(1e9 / (n - 1) + 0.5) AS BIGINT))
               AS BIGINT) AS invsum_n
           FROM g3)
         SELECT k, nt AS n_total, k - 1 AS df,
           round(((nt - k) * ln(CAST(ssw_q AS DOUBLE) / 1e4 / (nt - k))
               - lnsum_u / 1e6)
             / (1.0 + (invsum_n / 1e9 - 1.0 / (nt - k))
               / (3.0 * (k - 1))), 4) AS bartlett_chi2
         FROM t""",
    "st_g_test" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
             CAST(count(*) AS BIGINT) AS o
           FROM documents GROUP BY 1, 2),
         rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra
           FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb
           FROM cells GROUP BY 1),
         g AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         terms AS (SELECT
             CAST(round(o * ln(o / (ra * cb / n)) * 1e6) AS BIGINT)
               AS t, a, b, n
           FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN g)
         SELECT floor(2.0 * sum(t) / 100.0 + 0.5) / 1e4 AS g_stat,
           (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS df,
           CAST(max(n) AS BIGINT) AS n_total
         FROM terms""",
    "ts_ses_grid" ->
      """WITH RECURSIVE h AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         ev AS (SELECT hr, v,
             row_number() OVER (ORDER BY hr) AS rn
           FROM h),
         rec AS (
           SELECT rn, v,
             v AS l1,
             v AS l2,
             v AS l3,
             v AS l4,
             v AS l5,
             v AS l6,
             v AS l7,
             v AS l8,
             v AS l9,
             CAST(0 AS BIGINT) AS s1,
             CAST(0 AS BIGINT) AS s2,
             CAST(0 AS BIGINT) AS s3,
             CAST(0 AS BIGINT) AS s4,
             CAST(0 AS BIGINT) AS s5,
             CAST(0 AS BIGINT) AS s6,
             CAST(0 AS BIGINT) AS s7,
             CAST(0 AS BIGINT) AS s8,
             CAST(0 AS BIGINT) AS s9
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.rn, e.v,
             0.1 * e.v + (1.0 - 0.1) * r.l1,
             0.2 * e.v + (1.0 - 0.2) * r.l2,
             0.3 * e.v + (1.0 - 0.3) * r.l3,
             0.4 * e.v + (1.0 - 0.4) * r.l4,
             0.5 * e.v + (1.0 - 0.5) * r.l5,
             0.6 * e.v + (1.0 - 0.6) * r.l6,
             0.7 * e.v + (1.0 - 0.7) * r.l7,
             0.8 * e.v + (1.0 - 0.8) * r.l8,
             0.9 * e.v + (1.0 - 0.9) * r.l9,
             r.s1 + CAST(round((e.v - r.l1) * (e.v - r.l1) * 1e4) AS BIGINT),
             r.s2 + CAST(round((e.v - r.l2) * (e.v - r.l2) * 1e4) AS BIGINT),
             r.s3 + CAST(round((e.v - r.l3) * (e.v - r.l3) * 1e4) AS BIGINT),
             r.s4 + CAST(round((e.v - r.l4) * (e.v - r.l4) * 1e4) AS BIGINT),
             r.s5 + CAST(round((e.v - r.l5) * (e.v - r.l5) * 1e4) AS BIGINT),
             r.s6 + CAST(round((e.v - r.l6) * (e.v - r.l6) * 1e4) AS BIGINT),
             r.s7 + CAST(round((e.v - r.l7) * (e.v - r.l7) * 1e4) AS BIGINT),
             r.s8 + CAST(round((e.v - r.l8) * (e.v - r.l8) * 1e4) AS BIGINT),
             r.s9 + CAST(round((e.v - r.l9) * (e.v - r.l9) * 1e4) AS BIGINT)
           FROM ev e JOIN rec r ON e.rn = r.rn + 1),
         last AS (SELECT * FROM rec ORDER BY rn DESC LIMIT 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM ev),
         rows_out AS (           SELECT CAST(0.1 AS DOUBLE) AS alpha, n_hours,
             CAST(s1 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.2 AS DOUBLE) AS alpha, n_hours,
             CAST(s2 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.3 AS DOUBLE) AS alpha, n_hours,
             CAST(s3 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.4 AS DOUBLE) AS alpha, n_hours,
             CAST(s4 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.5 AS DOUBLE) AS alpha, n_hours,
             CAST(s5 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.6 AS DOUBLE) AS alpha, n_hours,
             CAST(s6 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.7 AS DOUBLE) AS alpha, n_hours,
             CAST(s7 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.8 AS DOUBLE) AS alpha, n_hours,
             CAST(s8 AS BIGINT) AS su FROM last CROSS JOIN n
           UNION ALL
           SELECT CAST(0.9 AS DOUBLE) AS alpha, n_hours,
             CAST(s9 AS BIGINT) AS su FROM last CROSS JOIN n),
         b AS (SELECT alpha AS ba FROM rows_out
           ORDER BY su, alpha LIMIT 1)
         SELECT alpha, n_hours, round(su / 1e4, 4) AS sse,
           alpha = ba AS is_best
         FROM rows_out CROSS JOIN b""",
    "ts_garch" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), value) AS rn
           FROM events),
         rec AS (
           SELECT user_id, ts_us, value AS v,
             CAST(0.0 AS DOUBLE) AS eps,
             CAST(1.0 / (1.0 - 0.1 - 0.8) AS DOUBLE) AS h, rn
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.ts_us, e.value,
             e.value - r.v,
             1.0 + 0.1 * r.eps * r.eps + 0.8 * r.h,
             e.rn
           FROM ev e JOIN rec r
             ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, ts_us,
           CASE WHEN h * 1000000.0 = floor(h * 1000000.0) + 0.5
             THEN (floor(h * 1000000.0) +
               abs(CAST(floor(h * 1000000.0) AS BIGINT) % 2)) / 1000000.0
             ELSE round(h * 1000000.0, 0) / 1000000.0
           END AS cond_var,
           CASE WHEN eps * 1000000.0 = floor(eps * 1000000.0) + 0.5
             THEN (floor(eps * 1000000.0) +
               abs(CAST(floor(eps * 1000000.0) AS BIGINT) % 2)) / 1000000.0
             ELSE round(eps * 1000000.0, 0) / 1000000.0
           END AS innovation
         FROM rec""",
    "st_wilson_ci" ->
      """WITH g AS (SELECT event_type AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 95.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM events GROUP BY 1),
         c AS (SELECT grp, n, k,
             k / CAST(n AS DOUBLE) AS p,
             1.0 + (1.96 * 1.96) / n AS denom,
             (k / CAST(n AS DOUBLE) + (1.96 * 1.96) / (2.0 * n))
               / (1.0 + (1.96 * 1.96) / n) AS center,
             1.96 * sqrt(k / CAST(n AS DOUBLE)
                 * (1.0 - k / CAST(n AS DOUBLE)) / n
               + (1.96 * 1.96) / (4.0 * n * n)) / (1.0 + (1.96 * 1.96) / n) AS half
           FROM g)
         SELECT grp, n, k, round(p, 6) AS p_hat,
           round(center - half, 6) AS ci_lo,
           round(center + half, 6) AS ci_hi
         FROM c""",
    "ts_bollinger" ->
      """WITH h AS (SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v6
           FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, hr, v6,
             CAST(count(*) OVER win AS BIGINT) AS wn,
             CAST(sum(v6) OVER win AS BIGINT) AS s1,
             sum(CAST(v6 AS HUGEINT) * v6) OVER win AS s2
           FROM h WINDOW win AS (PARTITION BY event_type ORDER BY hr
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         f AS (SELECT event_type, hr, v6, s1, s2,
             CAST(s1 AS DOUBLE) / 24.0 / 1e6 AS mean_w,
             sqrt((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0)
               / 24.0) / 1e6 AS sigma
           FROM w WHERE wn = 24)
         SELECT event_type, hr, round(CAST(v6 AS DOUBLE) / 1e6, 6)
             AS value,
           CAST((s1 + 12) // 24 AS DOUBLE) / 1e6 AS mean_w,
           round(mean_w - 2.0 * sigma, 6) AS lower,
           round(mean_w + 2.0 * sigma, 6) AS upper,
           CAST(v6 AS DOUBLE) / 1e6 > mean_w + 2.0 * sigma
             OR CAST(v6 AS DOUBLE) / 1e6 < mean_w - 2.0 * sigma
             AS breach
         FROM f""",
    // ts_granger (r9 flip): micro-unit exact moments + the Cholesky
    // solve UNROLLED in fixed operation order (generated algebra —
    // each l/z/beta scalar is one CTE column, subtraction chains
    // left-assoc exactly as the Scala loops run them; no pivoting to
    // replay because X'X is SPD)
    "ts_granger" ->
      """WITH hourly AS (SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1, 2),
         xy AS (SELECT a.hr, a.v AS x, b.v AS y
           FROM hourly a JOIN hourly b ON a.hr = b.hr
           WHERE a.event_type = 'click' AND b.event_type = 'purchase'),
         lag1 AS (SELECT lag(e6, 1) OVER w AS e1, lag(c6, 1) OVER w AS c1, lag(e6, 2) OVER w AS e2, lag(c6, 2) OVER w AS c2, e6 FROM (SELECT hr, CAST(round(x * 1e6) AS BIGINT) AS c6, CAST(round(y * 1e6) AS BIGINT) AS e6 FROM xy) WINDOW w AS (ORDER BY hr)),
         mom1raw AS (SELECT * FROM lag1 WHERE e1 IS NOT NULL AND c1 IS NOT NULL AND e2 IS NOT NULL AND c2 IS NOT NULL),
         mom1 AS (SELECT sum(CAST(CAST(1000000 AS BIGINT) * CAST(1000000 AS BIGINT) AS DECIMAL(38,0))) AS m_0_0_1, sum(CAST(CAST(1000000 AS BIGINT) * e1 AS DECIMAL(38,0))) AS m_0_1_1, sum(CAST(CAST(1000000 AS BIGINT) * e2 AS DECIMAL(38,0))) AS m_0_2_1, sum(CAST(CAST(1000000 AS BIGINT) * c1 AS DECIMAL(38,0))) AS m_0_3_1, sum(CAST(CAST(1000000 AS BIGINT) * c2 AS DECIMAL(38,0))) AS m_0_4_1, sum(CAST(e1 * e1 AS DECIMAL(38,0))) AS m_1_1_1, sum(CAST(e1 * e2 AS DECIMAL(38,0))) AS m_1_2_1, sum(CAST(e1 * c1 AS DECIMAL(38,0))) AS m_1_3_1, sum(CAST(e1 * c2 AS DECIMAL(38,0))) AS m_1_4_1, sum(CAST(e2 * e2 AS DECIMAL(38,0))) AS m_2_2_1, sum(CAST(e2 * c1 AS DECIMAL(38,0))) AS m_2_3_1, sum(CAST(e2 * c2 AS DECIMAL(38,0))) AS m_2_4_1, sum(CAST(c1 * c1 AS DECIMAL(38,0))) AS m_3_3_1, sum(CAST(c1 * c2 AS DECIMAL(38,0))) AS m_3_4_1, sum(CAST(c2 * c2 AS DECIMAL(38,0))) AS m_4_4_1, sum(CAST(CAST(1000000 AS BIGINT) * e6 AS DECIMAL(38,0))) AS b_0_1, sum(CAST(e1 * e6 AS DECIMAL(38,0))) AS b_1_1, sum(CAST(e2 * e6 AS DECIMAL(38,0))) AS b_2_1, sum(CAST(c1 * e6 AS DECIMAL(38,0))) AS b_3_1, sum(CAST(c2 * e6 AS DECIMAL(38,0))) AS b_4_1, sum(CAST(e6 * e6 AS DECIMAL(38,0))) AS yy_1, CAST(count(*) AS BIGINT) AS n_1 FROM mom1raw),
         lag2 AS (SELECT lag(e6, 1) OVER w AS e1, lag(c6, 1) OVER w AS c1, lag(e6, 2) OVER w AS e2, lag(c6, 2) OVER w AS c2, e6 FROM (SELECT hr, CAST(round(y * 1e6) AS BIGINT) AS c6, CAST(round(x * 1e6) AS BIGINT) AS e6 FROM xy) WINDOW w AS (ORDER BY hr)),
         mom2raw AS (SELECT * FROM lag2 WHERE e1 IS NOT NULL AND c1 IS NOT NULL AND e2 IS NOT NULL AND c2 IS NOT NULL),
         mom2 AS (SELECT sum(CAST(CAST(1000000 AS BIGINT) * CAST(1000000 AS BIGINT) AS DECIMAL(38,0))) AS m_0_0_2, sum(CAST(CAST(1000000 AS BIGINT) * e1 AS DECIMAL(38,0))) AS m_0_1_2, sum(CAST(CAST(1000000 AS BIGINT) * e2 AS DECIMAL(38,0))) AS m_0_2_2, sum(CAST(CAST(1000000 AS BIGINT) * c1 AS DECIMAL(38,0))) AS m_0_3_2, sum(CAST(CAST(1000000 AS BIGINT) * c2 AS DECIMAL(38,0))) AS m_0_4_2, sum(CAST(e1 * e1 AS DECIMAL(38,0))) AS m_1_1_2, sum(CAST(e1 * e2 AS DECIMAL(38,0))) AS m_1_2_2, sum(CAST(e1 * c1 AS DECIMAL(38,0))) AS m_1_3_2, sum(CAST(e1 * c2 AS DECIMAL(38,0))) AS m_1_4_2, sum(CAST(e2 * e2 AS DECIMAL(38,0))) AS m_2_2_2, sum(CAST(e2 * c1 AS DECIMAL(38,0))) AS m_2_3_2, sum(CAST(e2 * c2 AS DECIMAL(38,0))) AS m_2_4_2, sum(CAST(c1 * c1 AS DECIMAL(38,0))) AS m_3_3_2, sum(CAST(c1 * c2 AS DECIMAL(38,0))) AS m_3_4_2, sum(CAST(c2 * c2 AS DECIMAL(38,0))) AS m_4_4_2, sum(CAST(CAST(1000000 AS BIGINT) * e6 AS DECIMAL(38,0))) AS b_0_2, sum(CAST(e1 * e6 AS DECIMAL(38,0))) AS b_1_2, sum(CAST(e2 * e6 AS DECIMAL(38,0))) AS b_2_2, sum(CAST(c1 * e6 AS DECIMAL(38,0))) AS b_3_2, sum(CAST(c2 * e6 AS DECIMAL(38,0))) AS b_4_2, sum(CAST(e6 * e6 AS DECIMAL(38,0))) AS yy_2, CAST(count(*) AS BIGINT) AS n_2 FROM mom2raw),
         m0 AS (SELECT CAST(m_0_0_1 AS DOUBLE) / 1e12 AS a_0_0_1, CAST(m_0_1_1 AS DOUBLE) / 1e12 AS a_0_1_1, CAST(m_0_2_1 AS DOUBLE) / 1e12 AS a_0_2_1, CAST(m_0_3_1 AS DOUBLE) / 1e12 AS a_0_3_1, CAST(m_0_4_1 AS DOUBLE) / 1e12 AS a_0_4_1, CAST(m_1_1_1 AS DOUBLE) / 1e12 AS a_1_1_1, CAST(m_1_2_1 AS DOUBLE) / 1e12 AS a_1_2_1, CAST(m_1_3_1 AS DOUBLE) / 1e12 AS a_1_3_1, CAST(m_1_4_1 AS DOUBLE) / 1e12 AS a_1_4_1, CAST(m_2_2_1 AS DOUBLE) / 1e12 AS a_2_2_1, CAST(m_2_3_1 AS DOUBLE) / 1e12 AS a_2_3_1, CAST(m_2_4_1 AS DOUBLE) / 1e12 AS a_2_4_1, CAST(m_3_3_1 AS DOUBLE) / 1e12 AS a_3_3_1, CAST(m_3_4_1 AS DOUBLE) / 1e12 AS a_3_4_1, CAST(m_4_4_1 AS DOUBLE) / 1e12 AS a_4_4_1, CAST(b_0_1 AS DOUBLE) / 1e12 AS t_0_1, CAST(b_1_1 AS DOUBLE) / 1e12 AS t_1_1, CAST(b_2_1 AS DOUBLE) / 1e12 AS t_2_1, CAST(b_3_1 AS DOUBLE) / 1e12 AS t_3_1, CAST(b_4_1 AS DOUBLE) / 1e12 AS t_4_1, CAST(yy_1 AS DOUBLE) / 1e12 AS v_1, CAST(m_0_0_2 AS DOUBLE) / 1e12 AS a_0_0_2, CAST(m_0_1_2 AS DOUBLE) / 1e12 AS a_0_1_2, CAST(m_0_2_2 AS DOUBLE) / 1e12 AS a_0_2_2, CAST(m_0_3_2 AS DOUBLE) / 1e12 AS a_0_3_2, CAST(m_0_4_2 AS DOUBLE) / 1e12 AS a_0_4_2, CAST(m_1_1_2 AS DOUBLE) / 1e12 AS a_1_1_2, CAST(m_1_2_2 AS DOUBLE) / 1e12 AS a_1_2_2, CAST(m_1_3_2 AS DOUBLE) / 1e12 AS a_1_3_2, CAST(m_1_4_2 AS DOUBLE) / 1e12 AS a_1_4_2, CAST(m_2_2_2 AS DOUBLE) / 1e12 AS a_2_2_2, CAST(m_2_3_2 AS DOUBLE) / 1e12 AS a_2_3_2, CAST(m_2_4_2 AS DOUBLE) / 1e12 AS a_2_4_2, CAST(m_3_3_2 AS DOUBLE) / 1e12 AS a_3_3_2, CAST(m_3_4_2 AS DOUBLE) / 1e12 AS a_3_4_2, CAST(m_4_4_2 AS DOUBLE) / 1e12 AS a_4_4_2, CAST(b_0_2 AS DOUBLE) / 1e12 AS t_0_2, CAST(b_1_2 AS DOUBLE) / 1e12 AS t_1_2, CAST(b_2_2 AS DOUBLE) / 1e12 AS t_2_2, CAST(b_3_2 AS DOUBLE) / 1e12 AS t_3_2, CAST(b_4_2 AS DOUBLE) / 1e12 AS t_4_2, CAST(yy_2 AS DOUBLE) / 1e12 AS v_2, n_1, n_2
           FROM mom1 CROSS JOIN mom2),
         s0 AS (SELECT *, sqrt(greatest(0.0, a_0_0_1)) AS l_0_0_r1, sqrt(greatest(0.0, a_0_0_1)) AS l_0_0_f1, sqrt(greatest(0.0, a_0_0_2)) AS l_0_0_r2, sqrt(greatest(0.0, a_0_0_2)) AS l_0_0_f2 FROM m0), s1 AS (SELECT *, CASE WHEN l_0_0_r1 = 0.0 THEN 0.0 ELSE (a_0_1_1) / l_0_0_r1 END AS l_1_0_r1, CASE WHEN l_0_0_r1 = 0.0 THEN 0.0 ELSE (a_0_2_1) / l_0_0_r1 END AS l_2_0_r1, CASE WHEN l_0_0_f1 = 0.0 THEN 0.0 ELSE (a_0_1_1) / l_0_0_f1 END AS l_1_0_f1, CASE WHEN l_0_0_f1 = 0.0 THEN 0.0 ELSE (a_0_2_1) / l_0_0_f1 END AS l_2_0_f1, CASE WHEN l_0_0_f1 = 0.0 THEN 0.0 ELSE (a_0_3_1) / l_0_0_f1 END AS l_3_0_f1, CASE WHEN l_0_0_f1 = 0.0 THEN 0.0 ELSE (a_0_4_1) / l_0_0_f1 END AS l_4_0_f1, CASE WHEN l_0_0_r2 = 0.0 THEN 0.0 ELSE (a_0_1_2) / l_0_0_r2 END AS l_1_0_r2, CASE WHEN l_0_0_r2 = 0.0 THEN 0.0 ELSE (a_0_2_2) / l_0_0_r2 END AS l_2_0_r2, CASE WHEN l_0_0_f2 = 0.0 THEN 0.0 ELSE (a_0_1_2) / l_0_0_f2 END AS l_1_0_f2, CASE WHEN l_0_0_f2 = 0.0 THEN 0.0 ELSE (a_0_2_2) / l_0_0_f2 END AS l_2_0_f2, CASE WHEN l_0_0_f2 = 0.0 THEN 0.0 ELSE (a_0_3_2) / l_0_0_f2 END AS l_3_0_f2, CASE WHEN l_0_0_f2 = 0.0 THEN 0.0 ELSE (a_0_4_2) / l_0_0_f2 END AS l_4_0_f2 FROM s0), s2 AS (SELECT *, sqrt(greatest(0.0, a_1_1_1 - l_1_0_r1 * l_1_0_r1)) AS l_1_1_r1, sqrt(greatest(0.0, a_1_1_1 - l_1_0_f1 * l_1_0_f1)) AS l_1_1_f1, sqrt(greatest(0.0, a_1_1_2 - l_1_0_r2 * l_1_0_r2)) AS l_1_1_r2, sqrt(greatest(0.0, a_1_1_2 - l_1_0_f2 * l_1_0_f2)) AS l_1_1_f2 FROM s1), s3 AS (SELECT *, CASE WHEN l_1_1_r1 = 0.0 THEN 0.0 ELSE (a_1_2_1 - l_2_0_r1 * l_1_0_r1) / l_1_1_r1 END AS l_2_1_r1, CASE WHEN l_1_1_f1 = 0.0 THEN 0.0 ELSE (a_1_2_1 - l_2_0_f1 * l_1_0_f1) / l_1_1_f1 END AS l_2_1_f1, CASE WHEN l_1_1_f1 = 0.0 THEN 0.0 ELSE (a_1_3_1 - l_3_0_f1 * l_1_0_f1) / l_1_1_f1 END AS l_3_1_f1, CASE WHEN l_1_1_f1 = 0.0 THEN 0.0 ELSE (a_1_4_1 - l_4_0_f1 * l_1_0_f1) / l_1_1_f1 END AS l_4_1_f1, CASE WHEN l_1_1_r2 = 0.0 THEN 0.0 ELSE (a_1_2_2 - l_2_0_r2 * l_1_0_r2) / l_1_1_r2 END AS l_2_1_r2, CASE WHEN l_1_1_f2 = 0.0 THEN 0.0 ELSE (a_1_2_2 - l_2_0_f2 * l_1_0_f2) / l_1_1_f2 END AS l_2_1_f2, CASE WHEN l_1_1_f2 = 0.0 THEN 0.0 ELSE (a_1_3_2 - l_3_0_f2 * l_1_0_f2) / l_1_1_f2 END AS l_3_1_f2, CASE WHEN l_1_1_f2 = 0.0 THEN 0.0 ELSE (a_1_4_2 - l_4_0_f2 * l_1_0_f2) / l_1_1_f2 END AS l_4_1_f2 FROM s2), s4 AS (SELECT *, sqrt(greatest(0.0, a_2_2_1 - l_2_0_r1 * l_2_0_r1 - l_2_1_r1 * l_2_1_r1)) AS l_2_2_r1, sqrt(greatest(0.0, a_2_2_1 - l_2_0_f1 * l_2_0_f1 - l_2_1_f1 * l_2_1_f1)) AS l_2_2_f1, sqrt(greatest(0.0, a_2_2_2 - l_2_0_r2 * l_2_0_r2 - l_2_1_r2 * l_2_1_r2)) AS l_2_2_r2, sqrt(greatest(0.0, a_2_2_2 - l_2_0_f2 * l_2_0_f2 - l_2_1_f2 * l_2_1_f2)) AS l_2_2_f2 FROM s3), s5 AS (SELECT *, CASE WHEN l_0_0_r1 = 0.0 THEN 0.0 ELSE (t_0_1) / l_0_0_r1 END AS z_0_r1, CASE WHEN l_2_2_f1 = 0.0 THEN 0.0 ELSE (a_2_3_1 - l_3_0_f1 * l_2_0_f1 - l_3_1_f1 * l_2_1_f1) / l_2_2_f1 END AS l_3_2_f1, CASE WHEN l_2_2_f1 = 0.0 THEN 0.0 ELSE (a_2_4_1 - l_4_0_f1 * l_2_0_f1 - l_4_1_f1 * l_2_1_f1) / l_2_2_f1 END AS l_4_2_f1, CASE WHEN l_0_0_r2 = 0.0 THEN 0.0 ELSE (t_0_2) / l_0_0_r2 END AS z_0_r2, CASE WHEN l_2_2_f2 = 0.0 THEN 0.0 ELSE (a_2_3_2 - l_3_0_f2 * l_2_0_f2 - l_3_1_f2 * l_2_1_f2) / l_2_2_f2 END AS l_3_2_f2, CASE WHEN l_2_2_f2 = 0.0 THEN 0.0 ELSE (a_2_4_2 - l_4_0_f2 * l_2_0_f2 - l_4_1_f2 * l_2_1_f2) / l_2_2_f2 END AS l_4_2_f2 FROM s4), s6 AS (SELECT *, CASE WHEN l_1_1_r1 = 0.0 THEN 0.0 ELSE (t_1_1 - l_1_0_r1 * z_0_r1) / l_1_1_r1 END AS z_1_r1, sqrt(greatest(0.0, a_3_3_1 - l_3_0_f1 * l_3_0_f1 - l_3_1_f1 * l_3_1_f1 - l_3_2_f1 * l_3_2_f1)) AS l_3_3_f1, CASE WHEN l_1_1_r2 = 0.0 THEN 0.0 ELSE (t_1_2 - l_1_0_r2 * z_0_r2) / l_1_1_r2 END AS z_1_r2, sqrt(greatest(0.0, a_3_3_2 - l_3_0_f2 * l_3_0_f2 - l_3_1_f2 * l_3_1_f2 - l_3_2_f2 * l_3_2_f2)) AS l_3_3_f2 FROM s5), s7 AS (SELECT *, CASE WHEN l_2_2_r1 = 0.0 THEN 0.0 ELSE (t_2_1 - l_2_0_r1 * z_0_r1 - l_2_1_r1 * z_1_r1) / l_2_2_r1 END AS z_2_r1, CASE WHEN l_3_3_f1 = 0.0 THEN 0.0 ELSE (a_3_4_1 - l_4_0_f1 * l_3_0_f1 - l_4_1_f1 * l_3_1_f1 - l_4_2_f1 * l_3_2_f1) / l_3_3_f1 END AS l_4_3_f1, CASE WHEN l_2_2_r2 = 0.0 THEN 0.0 ELSE (t_2_2 - l_2_0_r2 * z_0_r2 - l_2_1_r2 * z_1_r2) / l_2_2_r2 END AS z_2_r2, CASE WHEN l_3_3_f2 = 0.0 THEN 0.0 ELSE (a_3_4_2 - l_4_0_f2 * l_3_0_f2 - l_4_1_f2 * l_3_1_f2 - l_4_2_f2 * l_3_2_f2) / l_3_3_f2 END AS l_4_3_f2 FROM s6), s8 AS (SELECT *, CASE WHEN l_2_2_r1 = 0.0 THEN 0.0 ELSE (z_2_r1) / l_2_2_r1 END AS bb_2_r1, sqrt(greatest(0.0, a_4_4_1 - l_4_0_f1 * l_4_0_f1 - l_4_1_f1 * l_4_1_f1 - l_4_2_f1 * l_4_2_f1 - l_4_3_f1 * l_4_3_f1)) AS l_4_4_f1, CASE WHEN l_2_2_r2 = 0.0 THEN 0.0 ELSE (z_2_r2) / l_2_2_r2 END AS bb_2_r2, sqrt(greatest(0.0, a_4_4_2 - l_4_0_f2 * l_4_0_f2 - l_4_1_f2 * l_4_1_f2 - l_4_2_f2 * l_4_2_f2 - l_4_3_f2 * l_4_3_f2)) AS l_4_4_f2 FROM s7), s9 AS (SELECT *, CASE WHEN l_1_1_r1 = 0.0 THEN 0.0 ELSE (z_1_r1 - l_2_1_r1 * bb_2_r1) / l_1_1_r1 END AS bb_1_r1, CASE WHEN l_0_0_f1 = 0.0 THEN 0.0 ELSE (t_0_1) / l_0_0_f1 END AS z_0_f1, CASE WHEN l_1_1_r2 = 0.0 THEN 0.0 ELSE (z_1_r2 - l_2_1_r2 * bb_2_r2) / l_1_1_r2 END AS bb_1_r2, CASE WHEN l_0_0_f2 = 0.0 THEN 0.0 ELSE (t_0_2) / l_0_0_f2 END AS z_0_f2 FROM s8), s10 AS (SELECT *, CASE WHEN l_0_0_r1 = 0.0 THEN 0.0 ELSE (z_0_r1 - l_1_0_r1 * bb_1_r1 - l_2_0_r1 * bb_2_r1) / l_0_0_r1 END AS bb_0_r1, CASE WHEN l_1_1_f1 = 0.0 THEN 0.0 ELSE (t_1_1 - l_1_0_f1 * z_0_f1) / l_1_1_f1 END AS z_1_f1, CASE WHEN l_0_0_r2 = 0.0 THEN 0.0 ELSE (z_0_r2 - l_1_0_r2 * bb_1_r2 - l_2_0_r2 * bb_2_r2) / l_0_0_r2 END AS bb_0_r2, CASE WHEN l_1_1_f2 = 0.0 THEN 0.0 ELSE (t_1_2 - l_1_0_f2 * z_0_f2) / l_1_1_f2 END AS z_1_f2 FROM s9), s11 AS (SELECT *, v_1 - (bb_0_r1 * t_0_1 + bb_1_r1 * t_1_1 + bb_2_r1 * t_2_1) AS rss_r1, CASE WHEN l_2_2_f1 = 0.0 THEN 0.0 ELSE (t_2_1 - l_2_0_f1 * z_0_f1 - l_2_1_f1 * z_1_f1) / l_2_2_f1 END AS z_2_f1, v_2 - (bb_0_r2 * t_0_2 + bb_1_r2 * t_1_2 + bb_2_r2 * t_2_2) AS rss_r2, CASE WHEN l_2_2_f2 = 0.0 THEN 0.0 ELSE (t_2_2 - l_2_0_f2 * z_0_f2 - l_2_1_f2 * z_1_f2) / l_2_2_f2 END AS z_2_f2 FROM s10), s12 AS (SELECT *, CASE WHEN l_3_3_f1 = 0.0 THEN 0.0 ELSE (t_3_1 - l_3_0_f1 * z_0_f1 - l_3_1_f1 * z_1_f1 - l_3_2_f1 * z_2_f1) / l_3_3_f1 END AS z_3_f1, CASE WHEN l_3_3_f2 = 0.0 THEN 0.0 ELSE (t_3_2 - l_3_0_f2 * z_0_f2 - l_3_1_f2 * z_1_f2 - l_3_2_f2 * z_2_f2) / l_3_3_f2 END AS z_3_f2 FROM s11), s13 AS (SELECT *, CASE WHEN l_4_4_f1 = 0.0 THEN 0.0 ELSE (t_4_1 - l_4_0_f1 * z_0_f1 - l_4_1_f1 * z_1_f1 - l_4_2_f1 * z_2_f1 - l_4_3_f1 * z_3_f1) / l_4_4_f1 END AS z_4_f1, CASE WHEN l_4_4_f2 = 0.0 THEN 0.0 ELSE (t_4_2 - l_4_0_f2 * z_0_f2 - l_4_1_f2 * z_1_f2 - l_4_2_f2 * z_2_f2 - l_4_3_f2 * z_3_f2) / l_4_4_f2 END AS z_4_f2 FROM s12), s14 AS (SELECT *, CASE WHEN l_4_4_f1 = 0.0 THEN 0.0 ELSE (z_4_f1) / l_4_4_f1 END AS bb_4_f1, CASE WHEN l_4_4_f2 = 0.0 THEN 0.0 ELSE (z_4_f2) / l_4_4_f2 END AS bb_4_f2 FROM s13), s15 AS (SELECT *, CASE WHEN l_3_3_f1 = 0.0 THEN 0.0 ELSE (z_3_f1 - l_4_3_f1 * bb_4_f1) / l_3_3_f1 END AS bb_3_f1, CASE WHEN l_3_3_f2 = 0.0 THEN 0.0 ELSE (z_3_f2 - l_4_3_f2 * bb_4_f2) / l_3_3_f2 END AS bb_3_f2 FROM s14), s16 AS (SELECT *, CASE WHEN l_2_2_f1 = 0.0 THEN 0.0 ELSE (z_2_f1 - l_3_2_f1 * bb_3_f1 - l_4_2_f1 * bb_4_f1) / l_2_2_f1 END AS bb_2_f1, CASE WHEN l_2_2_f2 = 0.0 THEN 0.0 ELSE (z_2_f2 - l_3_2_f2 * bb_3_f2 - l_4_2_f2 * bb_4_f2) / l_2_2_f2 END AS bb_2_f2 FROM s15), s17 AS (SELECT *, CASE WHEN l_1_1_f1 = 0.0 THEN 0.0 ELSE (z_1_f1 - l_2_1_f1 * bb_2_f1 - l_3_1_f1 * bb_3_f1 - l_4_1_f1 * bb_4_f1) / l_1_1_f1 END AS bb_1_f1, CASE WHEN l_1_1_f2 = 0.0 THEN 0.0 ELSE (z_1_f2 - l_2_1_f2 * bb_2_f2 - l_3_1_f2 * bb_3_f2 - l_4_1_f2 * bb_4_f2) / l_1_1_f2 END AS bb_1_f2 FROM s16), s18 AS (SELECT *, CASE WHEN l_0_0_f1 = 0.0 THEN 0.0 ELSE (z_0_f1 - l_1_0_f1 * bb_1_f1 - l_2_0_f1 * bb_2_f1 - l_3_0_f1 * bb_3_f1 - l_4_0_f1 * bb_4_f1) / l_0_0_f1 END AS bb_0_f1, CASE WHEN l_0_0_f2 = 0.0 THEN 0.0 ELSE (z_0_f2 - l_1_0_f2 * bb_1_f2 - l_2_0_f2 * bb_2_f2 - l_3_0_f2 * bb_3_f2 - l_4_0_f2 * bb_4_f2) / l_0_0_f2 END AS bb_0_f2 FROM s17), s19 AS (SELECT *, v_1 - (bb_0_f1 * t_0_1 + bb_1_f1 * t_1_1 + bb_2_f1 * t_2_1 + bb_3_f1 * t_3_1 + bb_4_f1 * t_4_1) AS rss_f1, v_2 - (bb_0_f2 * t_0_2 + bb_1_f2 * t_1_2 + bb_2_f2 * t_2_2 + bb_3_f2 * t_3_2 + bb_4_f2 * t_4_2) AS rss_f2 FROM s18)
         SELECT 'click->purchase' AS direction, n_1 AS n,
           round(rss_r1, 4) AS rss_restricted, round(rss_f1, 4) AS rss_full,
           round(((rss_r1 - rss_f1) / 2) / (rss_f1 / (n_1 - 5)), 4) AS f_stat
         FROM s19
         UNION ALL
         SELECT 'purchase->click', n_1,
           round(rss_r2, 4), round(rss_f2, 4),
           round(((rss_r2 - rss_f2) / 2) / (rss_f2 / (n_1 - 5)), 4)
         FROM s19""",
    // mm_frames / mm_resize / mm_features (r9 flips): the synthetic
    // media payload is the document text, which TESTDATA.md's corpus
    // keeps pure ASCII — so binary substr/byte indexing/md5 on the
    // Spark side equal char substr/ascii()/md5 on the oracle side,
    // and the stub codecs' byte algebra replays exactly
    "mm_frames" ->
      """WITH v AS (SELECT doc_id, text, length(text) AS nb FROM documents
                WHERE doc_id % 3 = 2 AND length(text) > 0),
         f AS (SELECT doc_id, text, nb,
             CAST(ceil(nb / 256.0) AS INT) AS n,
             least(4, CAST(ceil(nb / 256.0) AS INT)) AS t
           FROM v)
         SELECT doc_id AS media_id,
           CAST(floor(CAST(u.i * f.n AS DOUBLE) / f.t) AS INT) AS frame_idx,
           md5(substr(f.text,
             CAST(floor(CAST(u.i * f.n AS DOUBLE) / f.t) AS INT) * 256 + 1, 256))
             AS frame_md5
         FROM f, LATERAL unnest(generate_series(0, f.t - 1)) AS u(i)""",
    "mm_resize" ->
      """WITH m AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
             text, length(text) AS len FROM documents)
         SELECT doc_id AS media_id, kind, CAST(len AS INT) AS orig_bytes,
           CAST(64 AS INT) AS n_bytes,
           md5(string_agg(substr(text, CAST(u.i * len // 64 AS INT) + 1, 1),
             '' ORDER BY u.i)) AS payload_md5
         FROM m, LATERAL unnest(generate_series(0, 63)) AS u(i)
         WHERE len > 64 GROUP BY doc_id, kind, len
         UNION ALL
         SELECT doc_id, kind, CAST(len AS INT), CAST(len AS INT), md5(text)
         FROM m WHERE len <= 64""",
    "mm_features" ->
      """WITH m AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
             text, length(text) AS len FROM documents),
         c AS (SELECT m.doc_id,
             sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 1 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 2 THEN 1 ELSE 0 END) AS c2,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 3 THEN 1 ELSE 0 END) AS c3,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 4 THEN 1 ELSE 0 END) AS c4,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 5 THEN 1 ELSE 0 END) AS c5,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 6 THEN 1 ELSE 0 END) AS c6,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 7 THEN 1 ELSE 0 END) AS c7,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 8 THEN 1 ELSE 0 END) AS c8,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 9 THEN 1 ELSE 0 END) AS c9,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 10 THEN 1 ELSE 0 END) AS c10,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 11 THEN 1 ELSE 0 END) AS c11,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 12 THEN 1 ELSE 0 END) AS c12,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 13 THEN 1 ELSE 0 END) AS c13,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 14 THEN 1 ELSE 0 END) AS c14,
         sum(CASE WHEN ascii(substr(m.text, u.i, 1)) % 16 = 15 THEN 1 ELSE 0 END) AS c15,
             count(*) AS nch
           FROM m, LATERAL unnest(generate_series(1, m.len)) AS u(i)
           GROUP BY m.doc_id),
         h AS (SELECT m.doc_id, m.kind, m.len, COALESCE(CAST(c0 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h0, COALESCE(CAST(c1 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h1, COALESCE(CAST(c2 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h2, COALESCE(CAST(c3 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h3, COALESCE(CAST(c4 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h4, COALESCE(CAST(c5 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h5, COALESCE(CAST(c6 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h6, COALESCE(CAST(c7 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h7, COALESCE(CAST(c8 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h8, COALESCE(CAST(c9 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h9, COALESCE(CAST(c10 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h10, COALESCE(CAST(c11 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h11, COALESCE(CAST(c12 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h12, COALESCE(CAST(c13 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h13, COALESCE(CAST(c14 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h14, COALESCE(CAST(c15 AS DOUBLE), 0.0) / CAST(greatest(1, len) AS DOUBLE) AS h15
           FROM m LEFT JOIN c ON m.doc_id = c.doc_id)
         SELECT doc_id AS media_id, kind, CAST(len AS INT) AS n_bytes,
           round(h0 + h1 + h2 + h3 + h4 + h5 + h6 + h7 + h8 + h9 + h10 + h11 + h12 + h13 + h14 + h15, 6) AS feature_sum, round(h0, 6) AS f0
         FROM h""",
    // ts_dtw (r9 flip): exact integer min-plus DP — the twin replays
    // each banded DP row as prefix-sums + a prefix-min window inside
    // ONE recursive CTE carrying only the band slice (min-plus
    // expansion; exact longs make the reformulation identical)
    "ts_haar_energy" ->
      """WITH h AS (SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v6
           FROM events WHERE event_type = 'click' GROUP BY 1),
         s0 AS (SELECT row_number() OVER (ORDER BY hr) - 1 AS i, v6 AS s
           FROM h),
         l1 AS (SELECT i // 2 AS j,
             max(CASE WHEN i % 2 = 0 THEN s END) AS a,
             max(CASE WHEN i % 2 = 1 THEN s END) AS b
           FROM s0 GROUP BY 1),
         f1 AS (SELECT j, a, b FROM l1
           WHERE a IS NOT NULL AND b IS NOT NULL),
         e1 AS (SELECT CAST(count(*) AS BIGINT) AS np,
             COALESCE(CAST(sum(CAST(a - b AS HUGEINT) * (a - b))
               AS DOUBLE), 0.0) / 2 / 1e12 AS en
           FROM f1),
         s1 AS (SELECT j AS i, a + b AS s FROM f1),
         l2 AS (SELECT i // 2 AS j,
             max(CASE WHEN i % 2 = 0 THEN s END) AS a,
             max(CASE WHEN i % 2 = 1 THEN s END) AS b
           FROM s1 GROUP BY 1),
         f2 AS (SELECT j, a, b FROM l2
           WHERE a IS NOT NULL AND b IS NOT NULL),
         e2 AS (SELECT CAST(count(*) AS BIGINT) AS np,
             COALESCE(CAST(sum(CAST(a - b AS HUGEINT) * (a - b))
               AS DOUBLE), 0.0) / 4 / 1e12 AS en
           FROM f2),
         s2 AS (SELECT j AS i, a + b AS s FROM f2),
         l3 AS (SELECT i // 2 AS j,
             max(CASE WHEN i % 2 = 0 THEN s END) AS a,
             max(CASE WHEN i % 2 = 1 THEN s END) AS b
           FROM s2 GROUP BY 1),
         f3 AS (SELECT j, a, b FROM l3
           WHERE a IS NOT NULL AND b IS NOT NULL),
         e3 AS (SELECT CAST(count(*) AS BIGINT) AS np,
             COALESCE(CAST(sum(CAST(a - b AS HUGEINT) * (a - b))
               AS DOUBLE), 0.0) / 8 / 1e12 AS en
           FROM f3),
         s3 AS (SELECT j AS i, a + b AS s FROM f3),
         l4 AS (SELECT i // 2 AS j,
             max(CASE WHEN i % 2 = 0 THEN s END) AS a,
             max(CASE WHEN i % 2 = 1 THEN s END) AS b
           FROM s3 GROUP BY 1),
         f4 AS (SELECT j, a, b FROM l4
           WHERE a IS NOT NULL AND b IS NOT NULL),
         e4 AS (SELECT CAST(count(*) AS BIGINT) AS np,
             COALESCE(CAST(sum(CAST(a - b AS HUGEINT) * (a - b))
               AS DOUBLE), 0.0) / 16 / 1e12 AS en
           FROM f4),
         s4 AS (SELECT j AS i, a + b AS s FROM f4),
         l5 AS (SELECT i // 2 AS j,
             max(CASE WHEN i % 2 = 0 THEN s END) AS a,
             max(CASE WHEN i % 2 = 1 THEN s END) AS b
           FROM s4 GROUP BY 1),
         f5 AS (SELECT j, a, b FROM l5
           WHERE a IS NOT NULL AND b IS NOT NULL),
         e5 AS (SELECT CAST(count(*) AS BIGINT) AS np,
             COALESCE(CAST(sum(CAST(a - b AS HUGEINT) * (a - b))
               AS DOUBLE), 0.0) / 32 / 1e12 AS en
           FROM f5),
         s5 AS (SELECT j AS i, a + b AS s FROM f5),
         tot AS (SELECT e1.en + e2.en + e3.en + e4.en + e5.en AS t FROM e1, e2, e3, e4, e5)
         SELECT 1 AS level, np AS n_pairs, round(en, 6) AS energy,
           CASE WHEN t = 0 THEN 0.0 ELSE round(en / t, 6) END AS share
         FROM e1, tot
         UNION ALL
         SELECT 2 AS level, np AS n_pairs, round(en, 6) AS energy,
           CASE WHEN t = 0 THEN 0.0 ELSE round(en / t, 6) END AS share
         FROM e2, tot
         UNION ALL
         SELECT 3 AS level, np AS n_pairs, round(en, 6) AS energy,
           CASE WHEN t = 0 THEN 0.0 ELSE round(en / t, 6) END AS share
         FROM e3, tot
         UNION ALL
         SELECT 4 AS level, np AS n_pairs, round(en, 6) AS energy,
           CASE WHEN t = 0 THEN 0.0 ELSE round(en / t, 6) END AS share
         FROM e4, tot
         UNION ALL
         SELECT 5 AS level, np AS n_pairs, round(en, 6) AS energy,
           CASE WHEN t = 0 THEN 0.0 ELSE round(en / t, 6) END AS share
         FROM e5, tot""",
    "ts_dtw" ->
      """WITH RECURSIVE hourly AS (SELECT event_type,
             epoch_us(date_trunc('day', ts)) // 86400000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
         xs AS (SELECT row_number() OVER (ORDER BY hr) AS i,
             CAST(round(v * 1e6) AS BIGINT) AS x6
           FROM hourly WHERE event_type = 'click'),
         ys AS (SELECT row_number() OVER (ORDER BY hr) AS j,
             CAST(round(v * 1e6) AS BIGINT) AS y6
           FROM hourly WHERE event_type = 'view'),
         par AS (SELECT (SELECT count(*) FROM xs) AS n,
             (SELECT count(*) FROM ys) AS m,
             greatest(7, abs((SELECT count(*) FROM xs)
               - (SELECT count(*) FROM ys))) + 1 AS w,
             CAST(2305843009213693951 AS BIGINT) AS inf),
         yl AS (SELECT list(y6 ORDER BY j) AS yv FROM ys),
         dp AS (
           SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS plo,
             [CAST(0 AS BIGINT)] AS pl
           UNION ALL
           SELECT i2, lo, curl FROM (
             SELECT i2, min(j) AS lo, list(cst + mn ORDER BY j) AS curl
             FROM (
               SELECT i2, j,
                 sum(c) OVER (PARTITION BY i2 ORDER BY j) AS cst,
                 min(gv) OVER (PARTITION BY i2 ORDER BY j) AS mn
               FROM (
                 SELECT d.i + 1 AS i2, u.j AS j,
                   abs(x.x6 - yl.yv[u.j]) AS c,
                   least(
                     CASE WHEN u.j BETWEEN d.plo AND d.plo + len(d.pl) - 1
                       THEN d.pl[u.j - d.plo + 1] ELSE p.inf END,
                     CASE WHEN u.j - 1 BETWEEN d.plo AND d.plo + len(d.pl) - 1
                       THEN d.pl[u.j - 1 - d.plo + 1] ELSE p.inf END)
                     - COALESCE(sum(abs(x.x6 - yl.yv[u.j]))
                         OVER (ORDER BY u.j
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       CAST(0 AS BIGINT)) AS gv
                 FROM dp d, par p, yl, xs x,
                   LATERAL unnest(generate_series(greatest(1, d.i + 1 - p.w),
                     least(p.m, d.i + 1 + p.w))) u(j)
                 WHERE d.i < p.n AND x.i = d.i + 1
               )
             ) GROUP BY i2
           )
         ),
         fin AS (SELECT p.n, p.m,
             CASE WHEN p.n = 0 OR p.m = 0 THEN NULL
               ELSE (SELECT CASE WHEN p.m BETWEEN d.plo AND d.plo + len(d.pl) - 1
                       THEN d.pl[p.m - d.plo + 1] ELSE p.inf END
                     FROM dp d WHERE d.i = p.n) END AS d6
           FROM par p)
         SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
           CASE WHEN d6 IS NULL THEN -1.0
             ELSE round(CAST(d6 AS DOUBLE) / 1e6, 6) END AS dtw,
           CASE WHEN d6 IS NULL THEN -1.0
             ELSE round(CAST(d6 AS DOUBLE) / 1e6 / greatest(n, m), 6) END
             AS dtw_per_step
         FROM fin""",
    // mm_audio_energy (r9 flip): the WAV round-trip is byte-exact —
    // the REAL BMP round trip: Spark encodes/decodes/resizes actual
    // 24-bit BMP bytes; the twin replays the pixel ALGEBRA only (dims
    // from the id, gray = the stride-13 text byte, nearest-neighbor
    // index math, header+row-padding size formula) — ASCII corpus ⇒
    // byte algebra ≡ char algebra, same discipline as mm_frames
    "mm_bmp_roundtrip" ->
      """WITH img AS (SELECT doc_id AS media_id, text,
             CAST(length(text) AS BIGINT) AS n,
             CAST(8 + doc_id % 5 AS INTEGER) AS w,
             CAST(6 + doc_id % 4 AS INTEGER) AS h
           FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0),
         d AS (SELECT *, w // 2 AS w2, h // 2 AS h2 FROM img),
         px AS (SELECT media_id, w, h, w2, h2,
             ((y.r * h // h2) * w + (x.r * w // w2)) * 13 % n AS p,
             text
           FROM d CROSS JOIN range(0, 6) x(r) CROSS JOIN range(0, 4) y(r)
           WHERE x.r < w2 AND y.r < h2)
         SELECT media_id, w AS width, h AS height, w2 AS out_w,
           h2 AS out_h,
           CAST(54 + ((3 * w + 3) // 4 * 4) * h AS INTEGER) AS bmp_bytes,
           CAST(sum(ascii(substr(text, CAST(p AS INTEGER) + 1, 1)))
             AS BIGINT) AS checksum
         FROM px GROUP BY 1, 2, 3, 4, 5, 6""",
    // synthesized samples are ((byte−128)·256), so each RMS term
    // (k/128)² is a dyadic rational ≤ 1 with denominator 2^14: every
    // window sum is EXACT in doubles regardless of order, and the
    // twin needs no WAV parsing, only the same sample algebra
    "mm_audio_energy" ->
      """WITH a AS (SELECT doc_id, text, length(text) AS len FROM documents
                WHERE doc_id % 3 = 1 AND length(text) > 0),
         r AS (SELECT doc_id, (u.i - 1) // 64 AS win,
             sqrt(sum(((ascii(substr(text, CAST(u.i AS INT), 1)) - 128) / 128.0)
                    * ((ascii(substr(text, CAST(u.i AS INT), 1)) - 128) / 128.0))
               / count(*)) AS rms
           FROM a, LATERAL unnest(generate_series(1, a.len)) u(i)
           GROUP BY doc_id, (u.i - 1) // 64)
         SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN rms < 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
           round(avg(rms), 4) AS avg_rms, round(max(rms), 4) AS peak_rms,
           round(CAST(sum(CASE WHEN rms < 0.02 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT), 4) AS silence_ratio
         FROM r GROUP BY doc_id""",
    // tx_bpe_train / tx_bpe_apply (r9 flips): the 12 merge rounds
    // replay as ONE recursive CTE over the 31-word vocab frame — per
    // round, pair counts via a windowed sum over exploded adjacent
    // symbols, the arg-max pair via first_value (freq desc, l, r —
    // the trainer's exact tiebreak), and the greedy leftmost merge
    // via run-parity (a taken match shadows its right neighbor; runs
    // of matches only arise when l = r, where fold-greedy = take
    // every even offset in the run). apply reuses the recursion's
    // final symbol lists — identical to folding the merge table.
    "tx_bpe_train" ->
      """WITH RECURSIVE v0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS freq,
             list_append(string_split(w, ''), '</w>') AS syms
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) > 0 GROUP BY w),
         dp AS (
           SELECT 0 AS it, w, freq, syms,
             CAST(NULL AS VARCHAR) AS bl, CAST(NULL AS VARCHAR) AS br,
             CAST(NULL AS BIGINT) AS bpf
           FROM v0
           UNION ALL
           SELECT it2, w, freq,
             list_filter(
               list_transform(generate_series(1, len(syms)),
                 k -> CASE WHEN list_contains(tk, k) THEN nbl || nbr
                           WHEN list_contains(tk, k - 1) THEN NULL
                           ELSE syms[k] END),
               x -> x IS NOT NULL) AS syms,
             nbl, nbr, nbpf
           FROM (
             SELECT it2, w, freq, syms, nbl, nbr, nbpf,
               COALESCE(list(p ORDER BY p) FILTER (WHERE taken), []) AS tk
             FROM (
               SELECT *, mtch AND
                   (p - min(p) OVER (PARTITION BY w, mtch, isl)) % 2 = 0 AS taken
               FROM (
                 SELECT *,
                   p - row_number() OVER (PARTITION BY w, mtch ORDER BY p) AS isl
                 FROM (
                   SELECT *, (l = nbl AND r = nbr) AS mtch
                   FROM (
                     SELECT it + 1 AS it2, w, freq, syms, p, l, r,
                       first_value(l) OVER wb AS nbl,
                       first_value(r) OVER wb AS nbr,
                       first_value(pf) OVER wb AS nbpf
                     FROM (
                       SELECT *, sum(freq) OVER (PARTITION BY l, r) AS pf
                       FROM (
                         SELECT d0.it, d0.w, d0.freq, d0.syms, u0.p,
                           d0.syms[u0.p] AS l, d0.syms[u0.p + 1] AS r
                         FROM dp d0 LEFT JOIN LATERAL
                           unnest(generate_series(1, len(d0.syms) - 1)) u0(p)
                           ON true
                         WHERE d0.it < 12))
                     WINDOW wb AS (ORDER BY pf DESC NULLS LAST, l NULLS LAST, r
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)))))
             GROUP BY it2, w, freq, syms, nbl, nbr, nbpf)
         )
         
         SELECT DISTINCT CAST(it AS INT) AS merge_rank, bl AS "left",
           br AS "right", bl || br AS merged, bpf AS pair_freq
         FROM dp WHERE it >= 1 AND bl IS NOT NULL""",
    "tx_bpe_apply" ->
      """WITH RECURSIVE v0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS freq,
             list_append(string_split(w, ''), '</w>') AS syms
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) > 0 GROUP BY w),
         dp AS (
           SELECT 0 AS it, w, freq, syms,
             CAST(NULL AS VARCHAR) AS bl, CAST(NULL AS VARCHAR) AS br,
             CAST(NULL AS BIGINT) AS bpf
           FROM v0
           UNION ALL
           SELECT it2, w, freq,
             list_filter(
               list_transform(generate_series(1, len(syms)),
                 k -> CASE WHEN list_contains(tk, k) THEN nbl || nbr
                           WHEN list_contains(tk, k - 1) THEN NULL
                           ELSE syms[k] END),
               x -> x IS NOT NULL) AS syms,
             nbl, nbr, nbpf
           FROM (
             SELECT it2, w, freq, syms, nbl, nbr, nbpf,
               COALESCE(list(p ORDER BY p) FILTER (WHERE taken), []) AS tk
             FROM (
               SELECT *, mtch AND
                   (p - min(p) OVER (PARTITION BY w, mtch, isl)) % 2 = 0 AS taken
               FROM (
                 SELECT *,
                   p - row_number() OVER (PARTITION BY w, mtch ORDER BY p) AS isl
                 FROM (
                   SELECT *, (l = nbl AND r = nbr) AS mtch
                   FROM (
                     SELECT it + 1 AS it2, w, freq, syms, p, l, r,
                       first_value(l) OVER wb AS nbl,
                       first_value(r) OVER wb AS nbr,
                       first_value(pf) OVER wb AS nbpf
                     FROM (
                       SELECT *, sum(freq) OVER (PARTITION BY l, r) AS pf
                       FROM (
                         SELECT d0.it, d0.w, d0.freq, d0.syms, u0.p,
                           d0.syms[u0.p] AS l, d0.syms[u0.p + 1] AS r
                         FROM dp d0 LEFT JOIN LATERAL
                           unnest(generate_series(1, len(d0.syms) - 1)) u0(p)
                           ON true
                         WHERE d0.it < 12))
                     WINDOW wb AS (ORDER BY pf DESC NULLS LAST, l NULLS LAST, r
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)))))
             GROUP BY it2, w, freq, syms, nbl, nbr, nbpf)
         )
         ,
         fin AS (SELECT w, len(syms) AS nt FROM dp WHERE it = 12),
         dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
         SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(fin.nt) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(fin.nt) AS BIGINT)
             / CAST(sum(length(dw.w) + 1) AS BIGINT), 4) AS compression
         FROM dw JOIN fin ON dw.w = fin.w
         GROUP BY dw.doc_id""",
    "st_deming" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         q AS (SELECT CAST(round(x * 1e6) AS BIGINT) AS x6,
             CAST(round(y * 1e6) AS BIGINT) AS y6
           FROM hourly),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x6 AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y6 AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x6 AS HUGEINT) * CAST(x6 AS HUGEINT))
               AS HUGEINT) AS sxx,
             CAST(sum(CAST(y6 AS HUGEINT) * CAST(y6 AS HUGEINT))
               AS HUGEINT) AS syy,
             CAST(sum(CAST(x6 AS HUGEINT) * CAST(y6 AS HUGEINT))
               AS HUGEINT) AS sxy
           FROM q),
         c AS (SELECT n,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
             CAST(sxx AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
               AS cxx,
             CAST(syy AS DOUBLE) / n
               - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
               AS cyy,
             CAST(sxy AS DOUBLE) / n
               - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
               AS cxy
           FROM m)
         SELECT n AS n_hours,
           round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
               + 4.0 * cxy * cxy)) / nullif(2.0 * cxy, 0), 6) AS slope,
           round((my - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
               + 4.0 * cxy * cxy)) / nullif(2.0 * cxy, 0) * mx) / 1e6,
             6) AS intercept
         FROM c""",
    "st_distance_corr" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         q AS MATERIALIZED (SELECT hr,
             CAST(round(x * 1e6) AS BIGINT) AS xu,
             CAST(round(y * 1e6) AS BIGINT) AS yu
           FROM hourly),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n1 FROM q),
         pairs AS MATERIALIZED (SELECT i.hr AS hi, j.hr AS hj,
             abs(i.xu - j.xu) AS ax, abs(i.yu - j.yu) AS ay
           FROM q i CROSS JOIN q j),
         rm AS MATERIALIZED (SELECT hi, CAST(sum(ax) AS BIGINT) AS rx,
             CAST(sum(ay) AS BIGINT) AS ry
           FROM pairs GROUP BY 1),
         cm2 AS MATERIALIZED (SELECT hj, CAST(sum(ax) AS BIGINT) AS cx,
             CAST(sum(ay) AS BIGINT) AS cy
           FROM pairs GROUP BY 1),
         gr AS (SELECT CAST(sum(ax) AS BIGINT) AS gx,
             CAST(sum(ay) AS BIGINT) AS gy
           FROM pairs),
         t AS (SELECT
             CAST(sum(CAST(round(
               (ax / 1e6 - rx / 1e6 / n1 - cx / 1e6 / n1
                 + gx / 1e6 / (n1 * n1)) *
               (ay / 1e6 - ry / 1e6 / n1 - cy / 1e6 / n1
                 + gy / 1e6 / (n1 * n1)) * 1e6) AS BIGINT))
               AS BIGINT) AS sab,
             CAST(sum(CAST(round(
               (ax / 1e6 - rx / 1e6 / n1 - cx / 1e6 / n1
                 + gx / 1e6 / (n1 * n1)) *
               (ax / 1e6 - rx / 1e6 / n1 - cx / 1e6 / n1
                 + gx / 1e6 / (n1 * n1)) * 1e6) AS BIGINT))
               AS BIGINT) AS saa,
             CAST(sum(CAST(round(
               (ay / 1e6 - ry / 1e6 / n1 - cy / 1e6 / n1
                 + gy / 1e6 / (n1 * n1)) *
               (ay / 1e6 - ry / 1e6 / n1 - cy / 1e6 / n1
                 + gy / 1e6 / (n1 * n1)) * 1e6) AS BIGINT))
               AS BIGINT) AS sbb,
             CAST(max(n1) AS BIGINT) AS n
           FROM pairs JOIN rm ON pairs.hi = rm.hi
             JOIN cm2 ON pairs.hj = cm2.hj
             CROSS JOIN gr CROSS JOIN nn)
         SELECT n AS n_hours,
           round(sqrt(greatest(CAST(sab AS DOUBLE), 0.0) / (n * n))
             / nullif(sqrt(sqrt((CAST(saa AS DOUBLE) / (n * n))
               * (CAST(sbb AS DOUBLE) / (n * n)))), 0), 6) AS dcor
         FROM t""",
    "tx_term_burstiness" ->
      """WITH pd AS (SELECT doc_id, tk AS term,
             CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                 FROM documents)
           GROUP BY 1, 2),
         tm AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS tf_total
           FROM pd GROUP BY 1)
         SELECT term, df, tf_total,
           round(CAST(tf_total AS DOUBLE) / df, 4) AS burstiness
         FROM tm WHERE df >= 20
         ORDER BY tf_total * 1000000 // df DESC, term LIMIT 20""",
    "st_energy_dist" ->
      """WITH h AS MATERIALIZED (SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS vu
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1, 2),
         a AS (SELECT vu AS xa FROM h WHERE event_type = 'click'),
         b AS (SELECT vu AS xb FROM h WHERE event_type = 'view'),
         xy AS (SELECT CAST(sum(abs(xa - xb)) AS BIGINT) AS sxy,
             CAST(count(*) AS BIGINT) AS nm
           FROM a CROSS JOIN b),
         xx AS (SELECT CAST(sum(abs(a1.xa - a2.xa)) AS BIGINT) AS sxx,
             CAST(count(*) AS BIGINT) AS nn
           FROM a a1 CROSS JOIN a a2),
         yy AS (SELECT CAST(sum(abs(b1.xb - b2.xb)) AS BIGINT) AS syy,
             CAST(count(*) AS BIGINT) AS mm
           FROM b b1 CROSS JOIN b b2)
         SELECT nm,
           round((2.0 * sxy / nm - CAST(sxx AS DOUBLE) / nn
             - CAST(syy AS DOUBLE) / mm) / 1e6, 6) AS energy_dist
         FROM xy CROSS JOIN xx CROSS JOIN yy""",
    "ts_circular" ->
      """WITH t AS (SELECT event_type,
             CAST(round(cos(CAST(CAST(floor(epoch(ts)) AS BIGINT)
               % 86400 AS DOUBLE) / 86400.0 * 6.283185307179586)
               * 1e6) AS BIGINT) AS cu,
             CAST(round(sin(CAST(CAST(floor(epoch(ts)) AS BIGINT)
               % 86400 AS DOUBLE) / 86400.0 * 6.283185307179586)
               * 1e6) AS BIGINT) AS su
           FROM events),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cu) AS BIGINT) AS sc,
             CAST(sum(su) AS BIGINT) AS ss
           FROM t GROUP BY 1)
         SELECT event_type, n,
           round((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
             / 6.283185307179586 * 24.0 + 24.0) % 24.0, 4) AS mean_hour,
           round(sqrt(CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
             / 1e6 / n, 6) AS resultant
         FROM g""",
    "st_poisson_2rate" ->
      """WITH c AS (SELECT
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b
           FROM events)
         SELECT n_a, n_b,
           round(n_a / nullif(CAST(n_b AS DOUBLE), 0), 6) AS rate_ratio,
           round((n_a - n_b) /
             nullif(sqrt(CAST(n_a + n_b AS DOUBLE)), 0), 4) AS z
         FROM c""",
    "gr_squares" ->
      """WITH p AS MATERIALIZED (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         degA AS (SELECT a, CAST(count(*) AS BIGINT) AS da
           FROM p GROUP BY 1),
         degB AS (SELECT b, CAST(count(*) AS BIGINT) AS db
           FROM p GROUP BY 1),
         pairs AS (SELECT e1.a AS x, e2.a AS y,
             CAST(count(*) AS BIGINT) AS cn
           FROM p e1 JOIN p e2 ON e1.b = e2.b AND e1.a < e2.a
           GROUP BY 1, 2),
         sq AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(coalesce(sum(cn * (cn - 1) // 2), 0) AS BIGINT)
               AS n_squares
           FROM pairs),
         l3 AS (SELECT
             CAST(sum((da - 1) * (db - 1)) AS BIGINT) AS l3,
             CAST(count(*) AS BIGINT) AS n_edges
           FROM p JOIN degA USING (a) JOIN degB USING (b))
         SELECT n_edges, n_pairs, n_squares, l3,
           round(4.0 * n_squares / nullif(CAST(l3 AS DOUBLE), 0), 6)
             AS c4
         FROM sq CROSS JOIN l3""",
    "tx_fingerprint_roll" ->
      """SELECT doc_id,
           CAST(list_reduce(
             list_prepend(7, list_transform(string_split(text, ''),
               ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT)
             AS fp_roll
         FROM documents""",
    "tx_textrank" ->
      """WITH tt AS MATERIALIZED (SELECT string_split(text, ' ') AS t
           FROM documents),
         freq AS MATERIALIZED (SELECT tk FROM (
             SELECT unnest(t) AS tk FROM tt)
           GROUP BY tk HAVING count(*) >= 50),
         bg AS MATERIALIZED (SELECT DISTINCT w1, w2 FROM (
             SELECT unnest(t[1:len(t)-1]) AS w1,
               unnest(t[2:len(t)]) AS w2
             FROM tt WHERE len(t) >= 2)
           WHERE w1 <> w2
             AND w1 IN (SELECT tk FROM freq)
             AND w2 IN (SELECT tk FROM freq)),
         e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT w1 AS src, w2 AS dst FROM bg
             UNION ALL SELECT w2, w1 FROM bg)),
         deg AS MATERIALIZED (SELECT src, count(*) AS outdeg
           FROM e GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM deg),
         r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / n AS rank
           FROM deg CROSS JOIN nn),
         m1 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r0 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r1 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m1.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn
             LEFT JOIN m1 ON m1.dst = deg.src),
         m2 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r1 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r2 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m2.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn
             LEFT JOIN m2 ON m2.dst = deg.src),
         m3 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r2 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r3 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m3.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn
             LEFT JOIN m3 ON m3.dst = deg.src),
         m4 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r3 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r4 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m4.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn
             LEFT JOIN m4 ON m4.dst = deg.src),
         m5 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r4 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r5 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m5.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn
             LEFT JOIN m5 ON m5.dst = deg.src),
         top AS (SELECT node AS word, round(rank, 6) AS rank
           FROM r5 ORDER BY rank DESC, node LIMIT 20)
         SELECT word, rank FROM top""",
    "st_sign_test" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         c AS (SELECT
             CAST(sum(CASE WHEN round(x - y, 6) > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN round(x - y, 6) < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_neg,
             CAST(sum(CASE WHEN round(x - y, 6) = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ties
           FROM hourly)
         SELECT n_pos, n_neg, n_ties,
           round((n_pos - n_neg) /
             nullif(sqrt(CAST(n_pos + n_neg AS DOUBLE)), 0), 4) AS z
         FROM c""",
    "st_cvm" ->
      """WITH pts AS (SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         p2 AS (SELECT ca, cb, ca + cb AS t,
             CAST(coalesce(sum(ca + cb) OVER w, 0) AS BIGINT) AS below,
             CAST(coalesce(sum(ca) OVER w, 0) AS BIGINT) AS belowa
           FROM pts WINDOW w AS (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         q AS (SELECT ca, cb, t,
             2 * (below - belowa) + t + 1 AS da,
             2 * belowa + t + 1 AS db
           FROM p2),
         s AS (SELECT
             CAST(sum(CASE WHEN ca = 0 THEN 0 ELSE
               ca*da*da - 2*da*ca*(ca+1)
                 + (2*ca*(ca+1)*(2*ca+1)) // 3 END) AS BIGINT) AS sa4,
             CAST(sum(CASE WHEN cb = 0 THEN 0 ELSE
               cb*db*db - 2*db*cb*(cb+1)
                 + (2*cb*(cb+1)*(2*cb+1)) // 3 END) AS BIGINT) AS sb4,
             CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb
           FROM q)
         SELECT na AS n_a, nb AS n_b,
           round(CAST(CAST(na AS DECIMAL(38,0)) * sa4
                 + CAST(nb AS DECIMAL(38,0)) * sb4 AS DOUBLE) / 4.0
               / CAST(CAST(na AS DECIMAL(38,0)) * nb * (na + nb)
                 AS DOUBLE)
             - CAST(4 * CAST(na AS DECIMAL(38,0)) * nb - 1 AS DOUBLE)
               / (6.0 * CAST(na + nb AS DOUBLE)), 6) AS t_stat
         FROM s""",
    "st_tukey_hsd" ->
      """WITH g AS (SELECT event_type AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
               * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
           FROM events GROUP BY 1),
         g2 AS (SELECT grp, n, s1,
             CAST(floor(CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n + 0.5)
               AS BIGINT) AS ssw_q
           FROM g),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ssw_q) AS BIGINT) AS ssw_c2
           FROM g2)
         SELECT a.grp AS group_a, b.grp AS group_b,
           a.n AS n_a, b.n AS n_b,
           round(CAST(a.s1 AS DOUBLE) / a.n / 100.0
             - CAST(b.s1 AS DOUBLE) / b.n / 100.0, 6) AS mean_diff,
           round(abs(CAST(a.s1 AS DOUBLE) / a.n / 100.0
               - CAST(b.s1 AS DOUBLE) / b.n / 100.0)
             / sqrt(ssw_c2 / 1e4 / (nt - k) / 2.0
               * (1.0 / a.n + 1.0 / b.n)), 4) AS q_stat,
           abs(CAST(a.s1 AS DOUBLE) / a.n / 100.0
               - CAST(b.s1 AS DOUBLE) / b.n / 100.0)
             / sqrt(ssw_c2 / 1e4 / (nt - k) / 2.0
               * (1.0 / a.n + 1.0 / b.n)) > 3.86 AS significant
         FROM g2 a JOIN g2 b ON a.grp < b.grp CROSS JOIN tot""",
    "gr_adamic_adar" ->
      """WITH c AS MATERIALIZED (SELECT l1.l_suppkey AS s1,
             l2.l_suppkey AS s2, count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey
               AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         e AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM c
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM c)),
         nb AS MATERIALIZED (SELECT a AS u, b AS w FROM e
           UNION ALL SELECT b, a FROM e),
         deg AS (SELECT w AS wn, CAST(count(*) AS BIGINT) AS dw
           FROM nb GROUP BY 1),
         pr AS (SELECT n1.u AS x, n2.u AS y,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(CAST(round(1e9 / ln(dw)) AS BIGINT)) AS BIGINT)
               AS su
           FROM nb n1 JOIN nb n2 ON n1.w = n2.w AND n1.u < n2.u
             JOIN deg ON deg.wn = n1.w
           GROUP BY 1, 2),
         nc AS (SELECT pr.* FROM pr
           ANTI JOIN e ON pr.x = e.a AND pr.y = e.b)
         SELECT x, y, n_common, floor(su / 1000.0 + 0.5) / 1e6
           AS aa_score
         FROM nc ORDER BY su DESC, x, y LIMIT 20""",
    "ml_mcc" ->
      s"""WITH cm AS (SELECT * FROM ($MlNbOracleSql)),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS s,
             CAST(sum(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
               AS BIGINT) AS c,
             CAST(count(DISTINCT true_lang) AS BIGINT) AS n_classes
           FROM cm),
         rt AS (SELECT true_lang AS k, CAST(sum(n) AS BIGINT) AS t
           FROM cm GROUP BY 1),
         ct AS (SELECT pred_lang AS k, CAST(sum(n) AS BIGINT) AS p
           FROM cm GROUP BY 1),
         cr AS (SELECT CAST(sum(coalesce(p, 0) * coalesce(t, 0))
               AS BIGINT) AS pt,
             CAST(sum(coalesce(p, 0) * coalesce(p, 0)) AS BIGINT) AS pp,
             CAST(sum(coalesce(t, 0) * coalesce(t, 0)) AS BIGINT) AS tt
           FROM rt FULL JOIN ct USING (k))
         SELECT n_classes, s AS n_total,
           round(CAST(c * s - pt AS DOUBLE) /
             nullif(sqrt(CAST(s * s - pp AS DOUBLE)
               * CAST(s * s - tt AS DOUBLE)), 0), 6) AS mcc
         FROM tot CROSS JOIN cr""",
    "dq_ad_uniformity" ->
      """WITH dk AS (SELECT DISTINCT user_id FROM events),
         g AS (SELECT (CAST(CAST(user_id AS HUGEINT) * 2654435761
               % 4294967296 AS DOUBLE) + 0.5) / 4294967296.0 AS u
           FROM dk),
         c AS (SELECT u, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
         r AS (SELECT u, c,
             COALESCE(CAST(sum(c) OVER (ORDER BY u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS b
           FROM c),
         nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
         a AS (SELECT max(nn.n) AS n,
             sum(CAST(2 * b * c + c * c AS DOUBLE) * ln(u)) AS s1,
             sum(CAST(2 * c * (nn.n - b) - c * c AS DOUBLE)
               * ln(1.0 - u)) AS s2
           FROM r, nn)
         SELECT n AS n_keys,
           round(-CAST(n AS DOUBLE) - (s1 + s2) / n, 6) AS a2,
           CAST(2.492 AS DOUBLE) AS crit_5pct,
           -CAST(n AS DOUBLE) - (s1 + s2) / n < 2.492 AS uniform_ok
         FROM a""",
    "dq_hash_uniformity" ->
      """WITH dk AS (SELECT DISTINCT user_id FROM events),
         uv AS (SELECT CAST(CAST(user_id AS HUGEINT) * 2654435761
             % 4294967296 AS DOUBLE) / 4294967296.0 AS u
           FROM dk),
         cc AS (SELECT u, CAST(count(*) AS BIGINT) AS c
           FROM uv GROUP BY 1),
         pp AS (SELECT u, c,
             CAST(coalesce(sum(c) OVER (ORDER BY u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below,
             CAST(sum(c) OVER () AS BIGINT) AS n
           FROM cc),
         agg AS (SELECT CAST(max(n) AS BIGINT) AS n,
             max(greatest(
               abs(CAST(below + c AS DOUBLE) / n - u),
               abs(CAST(below AS DOUBLE) / n - u))) AS d
           FROM pp)
         SELECT n AS n_keys, round(d, 6) AS d_stat,
           round(1.358 / sqrt(CAST(n AS DOUBLE)), 6) AS crit_5pct,
           d < 1.358 / sqrt(CAST(n AS DOUBLE)) AS uniform_ok
         FROM agg""",
    "ml_fairness" ->
      """WITH base AS (SELECT
             CAST(((vec_id % 3) + 3) % 3 AS INTEGER) AS slice,
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS s,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
           FROM embeddings),
         per AS (SELECT slice, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS np,
             CAST(sum(CASE WHEN s >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp
           FROM base GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS gn,
             CAST(sum(y) AS BIGINT) AS gnp,
             CAST(sum(CASE WHEN s >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS gtp,
             CAST(sum(CASE WHEN s >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS gfp
           FROM base)
         SELECT slice, n, np,
           round(tp / nullif(CAST(np AS DOUBLE), 0), 6) AS tpr,
           round(fp / nullif(CAST(n - np AS DOUBLE), 0), 6) AS fpr,
           round((tp + fp) / nullif(CAST(n AS DOUBLE), 0), 6)
             AS positive_rate,
           round(tp / nullif(CAST(np AS DOUBLE), 0)
             - gtp / nullif(CAST(gnp AS DOUBLE), 0), 6) AS tpr_gap,
           round(fp / nullif(CAST(n - np AS DOUBLE), 0)
             - gfp / nullif(CAST(gn - gnp AS DOUBLE), 0), 6) AS fpr_gap,
           round((tp + fp) / nullif(CAST(n AS DOUBLE), 0)
             - (gtp + gfp) / nullif(CAST(gn AS DOUBLE), 0), 6)
             AS parity_gap
         FROM per CROSS JOIN g""",
    "dq_mix_drift" ->
      """WITH wk AS (SELECT
             CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         wt AS (SELECT week, event_type, n,
             CAST(sum(n) OVER (PARTITION BY week) AS BIGINT) AS nt
           FROM wk),
         cur AS (SELECT week, event_type,
             CAST(n AS DOUBLE) / nt AS p FROM wt),
         prv AS (SELECT week + 7 AS week, event_type,
             CAST(n AS DOUBLE) / nt AS q FROM wt),
         bt AS (SELECT coalesce(cur.week, prv.week) AS week,
             coalesce(cur.p, 0.0) AS p, coalesce(prv.q, 0.0) AS q
           FROM cur FULL JOIN prv
             ON cur.week = prv.week AND cur.event_type = prv.event_type
           WHERE coalesce(cur.p, 0.0) > 0 OR coalesce(prv.q, 0.0) > 0),
         t AS (SELECT week, CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CAST(round((
               CASE WHEN p = 0.0 THEN 0.0
                 ELSE p * log2(p / ((p + q) / 2.0)) END +
               CASE WHEN q = 0.0 THEN 0.0
                 ELSE q * log2(q / ((p + q) / 2.0)) END) / 2.0 * 1e9)
               AS BIGINT)) AS BIGINT) AS tu
           FROM bt GROUP BY 1),
         wp AS (SELECT DISTINCT week + 7 AS week FROM wt),
         wc AS (SELECT DISTINCT week FROM wt)
         SELECT t.week, n_types, floor(tu / 1000.0 + 0.5) / 1e6 AS jsd
         FROM t JOIN wp ON t.week = wp.week
           JOIN wc ON t.week = wc.week""",
    "ts_piecewise_trend" ->
      """WITH h0 AS (SELECT epoch(date_trunc('hour', ts)) // 3600 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS vu
           FROM events WHERE event_type = 'click' GROUP BY 1),
         h AS (SELECT hr, vu,
             CAST(row_number() OVER wo AS BIGINT) AS i,
             CAST(sum(vu) OVER wr AS BIGINT) AS pre,
             CAST(sum(vu) OVER () AS BIGINT) AS tot,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM h0 WINDOW wo AS (ORDER BY hr),
             wr AS (ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         b1 AS (SELECT i AS t1 FROM h WHERE i < n
           ORDER BY abs(n * pre - i * tot) DESC, i LIMIT 1),
         s1 AS (SELECT hr, vu,
             CASE WHEN i <= t1 THEN 0 ELSE 1 END AS seg
           FROM h CROSS JOIN b1),
         s2 AS (SELECT hr, vu, seg,
             CAST(row_number() OVER (PARTITION BY seg ORDER BY hr)
               AS BIGINT) AS j
           FROM s1),
         g AS (SELECT seg, CAST(count(*) AS BIGINT) AS m,
             CAST(min(hr) AS BIGINT) AS start_hr,
             CAST(max(hr) AS BIGINT) AS end_hr,
             CAST(sum(j) AS BIGINT) AS sx,
             CAST(sum(vu) AS BIGINT) AS sy,
             CAST(sum(j * vu) AS BIGINT) AS sxy,
             CAST(sum(j * j) AS BIGINT) AS sxx
           FROM s2 GROUP BY 1),
         c AS (SELECT seg, m, start_hr, end_hr,
             CAST(m * sxy - sx * sy AS DOUBLE)
               / nullif(CAST(m * sxx - sx * sx AS DOUBLE), 0) AS slope,
             CAST(sy AS DOUBLE) / m
               - (CAST(m * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(m * sxx - sx * sx AS DOUBLE), 0))
                 * (CAST(sx AS DOUBLE) / m) AS icept
           FROM g)
         SELECT CAST(seg + 1 AS BIGINT) AS segment, start_hr, end_hr,
           m AS n_hours,
           round(slope / 1e6, 6) AS slope_per_hour,
           round((icept + slope * 1.0) / 1e6, 6) AS fit_start,
           round((icept + slope * m) / 1e6, 6) AS fit_end
         FROM c""",
    "pipe_kill_report" ->
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '),
               x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT)
               AS n_alpha,
             CAST(list_max(list_transform(string_split(text, ' '),
               x -> length(x))) AS BIGINT) AS longest
           FROM documents),
         r AS (SELECT doc_id, n_words,
             CAST(n_chars AS DOUBLE) / n_words AS mean_len,
             CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
             longest
           FROM w),
         f AS (SELECT
             NOT (n_words >= 50 AND n_words <= 100000) AS f_wc,
             NOT (mean_len >= 3.0 AND mean_len <= 10.0) AS f_ml,
             NOT (alpha_frac >= 0.8) AS f_al,
             NOT (longest <= 25) AS f_lg
           FROM r),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN NOT f_wc AND NOT f_ml AND NOT f_al
               AND NOT f_lg THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT)
               AS nf_wc,
             CAST(sum(CASE WHEN f_wc AND NOT f_ml AND NOT f_al
               AND NOT f_lg THEN 1 ELSE 0 END) AS BIGINT) AS nu_wc,
             CAST(sum(CASE WHEN f_ml THEN 1 ELSE 0 END) AS BIGINT)
               AS nf_ml,
             CAST(sum(CASE WHEN f_ml AND NOT f_wc AND NOT f_al
               AND NOT f_lg THEN 1 ELSE 0 END) AS BIGINT) AS nu_ml,
             CAST(sum(CASE WHEN f_al THEN 1 ELSE 0 END) AS BIGINT)
               AS nf_al,
             CAST(sum(CASE WHEN f_al AND NOT f_wc AND NOT f_ml
               AND NOT f_lg THEN 1 ELSE 0 END) AS BIGINT) AS nu_al,
             CAST(sum(CASE WHEN f_lg THEN 1 ELSE 0 END) AS BIGINT)
               AS nf_lg,
             CAST(sum(CASE WHEN f_lg AND NOT f_wc AND NOT f_ml
               AND NOT f_al THEN 1 ELSE 0 END) AS BIGINT) AS nu_lg
           FROM f)
         SELECT 'word_count' AS rule, nf_wc AS n_failing,
           nu_wc AS n_unique_kill, n_docs, n_kept,
           round(CAST(nf_wc AS DOUBLE) / n_docs, 6) AS fail_share
         FROM a
         UNION ALL SELECT 'mean_len', nf_ml, nu_ml, n_docs, n_kept,
           round(CAST(nf_ml AS DOUBLE) / n_docs, 6) FROM a
         UNION ALL SELECT 'alpha', nf_al, nu_al, n_docs, n_kept,
           round(CAST(nf_al AS DOUBLE) / n_docs, 6) FROM a
         UNION ALL SELECT 'longest', nf_lg, nu_lg, n_docs, n_kept,
           round(CAST(nf_lg AS DOUBLE) / n_docs, 6) FROM a""",
    "ml_cost_threshold" ->
      """WITH sc AS (SELECT
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS s,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
           FROM embeddings),
         ts AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
             0.8, 0.9]) AS DOUBLE) AS t),
         per AS (SELECT t AS threshold,
             CAST(sum(CASE WHEN s >= t AND y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s >= t AND y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(y) AS BIGINT) AS np
           FROM sc CROSS JOIN ts GROUP BY 1),
         r AS (SELECT threshold, fp, np - tp AS fn,
             CAST(5 * (np - tp) + 1 * fp AS BIGINT) AS cost
           FROM per),
         b AS (SELECT threshold AS bt FROM r
           ORDER BY cost, threshold DESC LIMIT 1)
         SELECT threshold, fp, fn, cost, threshold = bt AS is_best
         FROM r CROSS JOIN b""",
    "ml_ndcg" ->
      """WITH base AS (SELECT label AS query, vec_id AS id,
             CAST(round(embedding[1] * 1000) AS BIGINT) AS score,
             ((CAST(round(embedding[2] * 1000) AS BIGINT) % 4) + 4) % 4
               AS rel
           FROM embeddings),
         r AS (SELECT query, rel,
             row_number() OVER (PARTITION BY query
               ORDER BY score DESC, id) AS rank,
             row_number() OVER (PARTITION BY query
               ORDER BY rel DESC, id) AS irank
           FROM base)
         SELECT query, CAST(count(*) AS BIGINT) AS n_items,
           round(sum(CASE WHEN rank <= 10 THEN
               CAST(round((pow(2, rel) - 1) / log2(rank + 1) * 1e6)
                 AS BIGINT) ELSE 0 END) / 1e6, 6) AS dcg_at_k,
           round(sum(CASE WHEN rank <= 10 THEN
               CAST(round((pow(2, rel) - 1) / log2(rank + 1) * 1e6)
                 AS BIGINT) ELSE 0 END)
             / nullif(CAST(sum(CASE WHEN irank <= 10 THEN
               CAST(round((pow(2, rel) - 1) / log2(irank + 1) * 1e6)
                 AS BIGINT) ELSE 0 END) AS DOUBLE), 0), 6) AS ndcg_at_k
         FROM r GROUP BY 1""",
    "ml_mrr" ->
      """WITH base AS (SELECT label AS query, vec_id AS id,
             CAST(round(embedding[1] * 1000) AS BIGINT) AS score,
             ((CAST(round(embedding[2] * 1000) AS BIGINT) % 4) + 4) % 4
               AS rel
           FROM embeddings),
         r AS (SELECT query, rel,
             row_number() OVER (PARTITION BY query
               ORDER BY score DESC, id) AS rank
           FROM base)
         SELECT query, CAST(count(*) AS BIGINT) AS n_items,
           CAST(coalesce(min(CASE WHEN rel >= 2 THEN rank END), 0)
             AS BIGINT) AS first_rel_rank,
           CASE WHEN coalesce(min(CASE WHEN rel >= 2 THEN rank END), 0)
               = 0 THEN 0.0
             ELSE round(1.0 / min(CASE WHEN rel >= 2 THEN rank END), 6)
             END AS rr
         FROM r GROUP BY 1""",
    "ml_roc" ->
      """WITH sc AS (SELECT
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS s,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
           FROM embeddings),
         ts AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
             0.8, 0.9]) AS DOUBLE) AS t),
         per AS (SELECT t AS threshold,
             CAST(sum(CASE WHEN s >= t AND y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s >= t AND y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(y) AS BIGINT) AS np,
             CAST(count(*) AS BIGINT) AS n
           FROM sc CROSS JOIN ts GROUP BY 1),
         r AS (SELECT threshold, tp, fp, np - tp AS fn,
             n - np - fp AS tn,
             round(CAST(tp AS DOUBLE) / nullif(CAST(np AS DOUBLE), 0),
               6) AS tpr,
             round(CAST(fp AS DOUBLE) /
               nullif(CAST(n - np AS DOUBLE), 0), 6) AS fpr,
             round(CAST(tp AS DOUBLE) /
               nullif(CAST(tp + fp AS DOUBLE), 0), 6) AS precision,
             round(CAST(tp AS DOUBLE) / nullif(CAST(np AS DOUBLE), 0) -
               CAST(fp AS DOUBLE) / nullif(CAST(n - np AS DOUBLE), 0),
               6) AS youden_j
           FROM per),
         b AS (SELECT threshold AS bt FROM r
           ORDER BY youden_j DESC, threshold DESC LIMIT 1)
         SELECT threshold, tp, fp, fn, tn, tpr, fpr, precision,
           youden_j, threshold = bt AS is_best
         FROM r CROSS JOIN b""",
    "dwh_periodic_snapshot" ->
      """WITH m AS (SELECT c_mktsegment AS segment,
             strftime(o_orderdate, '%Y-%m') AS month,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2)
         SELECT segment, month, n_orders,
           CAST(sum(n_orders) OVER w AS BIGINT) AS cum_orders,
           round(cents / 100.0, 2) AS revenue,
           round(sum(cents) OVER w / 100.0, 2) AS cum_revenue
         FROM m WINDOW w AS (PARTITION BY segment ORDER BY month
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "gr_embeddedness" ->
      """WITH cp AS MATERIALIZED (SELECT l1.l_suppkey AS s1,
             l2.l_suppkey AS s2, count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         und AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM cp
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM cp)),
         deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT a AS node FROM und
                 UNION ALL SELECT b FROM und) GROUP BY 1),
         o AS MATERIALIZED (SELECT
             CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
               THEN a ELSE b END AS u,
             CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
               THEN b ELSE a END AS v,
             CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
               THEN d2.deg ELSE d1.deg END AS dv
           FROM und JOIN deg d1 ON und.a = d1.node
             JOIN deg d2 ON und.b = d2.node),
         tri AS (SELECT o1.u, o1.v AS x, o2.v AS y
           FROM o o1 JOIN o o2 ON o1.u = o2.u
             AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
           WHERE EXISTS (SELECT 1 FROM o o3
             WHERE o3.u = o1.v AND o3.v = o2.v)),
         pe AS (SELECT a, b, CAST(count(*) AS BIGINT) AS emb FROM (
             SELECT least(u, x) AS a, greatest(u, x) AS b FROM tri
             UNION ALL SELECT least(u, y), greatest(u, y) FROM tri
             UNION ALL SELECT least(x, y), greatest(x, y) FROM tri)
           GROUP BY 1, 2),
         hist AS (SELECT coalesce(emb, 0) AS emb,
             CAST(count(*) AS BIGINT) AS n_edges
           FROM und LEFT JOIN pe USING (a, b) GROUP BY 1),
         t AS (SELECT CAST(sum(n_edges) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN emb = 0 THEN n_edges ELSE 0 END)
               AS BIGINT) AS nb
           FROM hist)
         SELECT emb AS embeddedness, n_edges,
           round(CAST(nb AS DOUBLE) / nt, 6) AS bridge_share
         FROM hist CROSS JOIN t""",
    "ml_isotonic" ->
      """WITH RECURSIVE sc AS (SELECT
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
           FROM embeddings),
         b AS (SELECT CAST(floor(score * 10) AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
           FROM sc GROUP BY 1),
         st0 AS (SELECT list(n ORDER BY bin) AS ns,
             list(p ORDER BY bin) AS ps,
             list(CAST(1 AS BIGINT) ORDER BY bin) AS cs
           FROM b),
         it AS (
           SELECT 0 AS k, ns, ps, cs FROM st0
           UNION ALL
           SELECT k + 1,
             ns[1:f-1] || [ns[f] + ns[f+1]] || ns[f+2:],
             ps[1:f-1] || [ps[f] + ps[f+1]] || ps[f+2:],
             cs[1:f-1] || [cs[f] + cs[f+1]] || cs[f+2:]
           FROM (SELECT *, list_filter(generate_series(1, len(ns) - 1),
               i -> ps[i] * ns[i+1] > ps[i+1] * ns[i])[1] AS f
             FROM it)
           WHERE f IS NOT NULL),
         fin AS (SELECT ns, ps, cs FROM it ORDER BY k DESC LIMIT 1),
         pos AS (SELECT bin, n, p,
             CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS rp
           FROM b),
         blocks AS (SELECT fin.ns[u.j] AS bn, fin.ps[u.j] AS bp,
             COALESCE(list_sum(fin.cs[1:u.j-1]), 0) AS lo,
             list_sum(fin.cs[1:u.j]) AS hi
           FROM fin, LATERAL unnest(generate_series(1, len(fin.cs)))
             u(j))
         SELECT pos.bin, pos.n, pos.p AS n_pos,
           round(CAST(pos.p AS DOUBLE) / pos.n, 6) AS frac_pos,
           round(CAST(bk.bp AS DOUBLE) / bk.bn, 6) AS iso_frac
         FROM pos JOIN blocks bk ON pos.rp > bk.lo AND pos.rp <= bk.hi""",
    "ml_calibration" ->
      """WITH sc AS (SELECT
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
           FROM embeddings),
         q AS (SELECT CAST(floor(score * 10) AS INT) AS bin, y,
             CAST(round(score * 1000000) AS BIGINT) AS sq,
             CAST(round((score - y) * (score - y) * 1000000) AS BIGINT)
               AS bq
           FROM sc),
         b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(sq) AS BIGINT) AS ssum
           FROM q GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS nt,
             CAST(sum(bq) AS BIGINT) AS bsum FROM q),
         bb AS (SELECT b.*, nt, bsum,
             CAST(round(abs(CAST(n_pos AS DOUBLE) / n -
               CAST(ssum AS DOUBLE) / (n * 1000000.0)) * n
               * 1000000000.0 / nt) AS BIGINT) AS eq
           FROM b CROSS JOIN g),
         e AS (SELECT CAST(sum(eq) AS BIGINT) AS esum FROM bb)
         SELECT bin, n, n_pos,
           round(CAST(ssum AS DOUBLE) / (n * 1000000.0), 6)
             AS mean_score,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
           round(CAST(bsum AS DOUBLE) / (nt * 1000000.0), 6) AS brier,
           floor(CAST(esum AS DOUBLE) / 1000.0 + 0.5) / 1e6 AS ece
         FROM bb CROSS JOIN e""",
    "ml_log_loss" ->
      """WITH sc AS (SELECT
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
           FROM embeddings),
         t AS (SELECT y, CAST(round(ln(CASE WHEN y = 1 THEN score
             ELSE 1.0 - score END) * 1e6) AS BIGINT) AS t
           FROM sc)
         SELECT CAST(count(*) AS BIGINT) AS n,
           round(-CAST(sum(t) AS DOUBLE) / 1e6 / count(*), 6)
             AS log_loss,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS base_rate
         FROM t""",
    "ml_ece_adaptive" ->
      """WITH sc AS (SELECT
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y, vec_id
           FROM embeddings),
         q AS (SELECT CAST(round(score * 1000000) AS BIGINT) AS sq,
             y, vec_id
           FROM sc),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM q),
         r AS (SELECT sq, y,
             CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT)
               AS r, nt
           FROM q CROSS JOIN tt),
         b AS (SELECT (r - 1) * 10 // nt AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(sq) AS BIGINT) AS ssum, max(nt) AS nt
           FROM r GROUP BY 1),
         bb AS (SELECT b.*,
             CAST(round(abs(CAST(n_pos AS DOUBLE) / n
               - CAST(ssum AS DOUBLE) / (n * 1000000.0)) * n
               * 1000000000.0 / nt) AS BIGINT) AS eq
           FROM b),
         e AS (SELECT CAST(sum(eq) AS BIGINT) AS esum FROM bb)
         SELECT bin, n, n_pos,
           round(CAST(ssum AS DOUBLE) / (n * 1000000.0), 6)
             AS mean_score,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
           floor(CAST(esum AS DOUBLE) / 1000.0 + 0.5) / 1e6 AS ece_q
         FROM bb CROSS JOIN e""",
    "ts_dow_anova" ->
      """WITH pts AS (SELECT
             CAST(epoch(CAST(ts AS DATE)) // 86400 % 7 AS BIGINT)
               AS dow, value
           FROM events WHERE event_type = 'click'),
         g AS (SELECT dow, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM pts GROUP BY 1),
         gr AS (SELECT sum(n*m)/sum(n) AS gm, sum(n) AS nt,
             count(*) AS k
           FROM g),
         a AS (SELECT max(k) AS k, max(nt) AS n_total,
             sum(n * pow(m - gm, 2)) AS ssb, sum((n - 1) * v) AS ssw
           FROM g, gr)
         SELECT CAST(k AS BIGINT) AS k,
           CAST(n_total AS BIGINT) AS n_total,
           round((ssb/(k - 1)) / (ssw/(n_total - k)), 4) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n_total - k AS BIGINT) AS df2
         FROM a""",
    "st_quartile_skew" ->
      """WITH pts AS (SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
           FROM events),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             quantile_cont(c, 0.25) AS q1c,
             quantile_cont(c, 0.5) AS q2c,
             quantile_cont(c, 0.75) AS q3c
           FROM pts GROUP BY 1)
         SELECT event_type, n, q1c / 100.0 AS q1, q2c / 100.0 AS q2,
           q3c / 100.0 AS q3,
           round((q3c + q1c - q2c * 2.0)
             / nullif(q3c - q1c, 0.0), 6) AS bowley
         FROM g""",
    "w31_dwell" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             epoch_us(ts) AS us
           FROM events),
         gp AS (SELECT event_type,
             lead(us) OVER (PARTITION BY user_id
               ORDER BY us, event_id) - us AS gap_us
           FROM e),
         a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap_us) AS BIGINT) AS sg,
             quantile_cont(gap_us, 0.5) AS medus,
             CAST(max(gap_us) AS BIGINT) AS mx
           FROM gp WHERE gap_us IS NOT NULL GROUP BY 1)
         SELECT event_type, n_gaps,
           round(CAST(sg AS DOUBLE) / n_gaps / 1e6, 4) AS mean_gap_s,
           floor(medus / 100.0 + 0.5) / 1e4 AS median_gap_s,
           CAST(mx AS DOUBLE) / 1e6 AS max_gap_s
         FROM a""",
    "ts_autocorr_time" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         l AS (SELECT unnest(range(1, 13)) AS lag),
         r AS (SELECT lag,
             CAST(round(round(corr(a.v, b.v), 6) * 1e6) AS BIGINT)
               AS rq
           FROM l CROSS JOIN hourly a JOIN hourly b ON b.hr = a.hr + lag
           GROUP BY lag)
         SELECT CAST(count(*) AS BIGINT) AS n_lags,
           round(1.0 + CAST(sum(rq) AS DOUBLE) * 2.0 / 1e6, 6)
             AS tau_int
         FROM r""",
    "dd_jaccard_hist" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM toks WHERE len(t) >= 3)),
         hotsh AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
         shk AS (SELECT doc_id, s FROM sh ANTI JOIN hotsh USING (s)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM shk
           GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
             count(*) AS shared
           FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         bkt AS (SELECT CAST(least(9,
             shared * 10 // (x.n_sh + y.n_sh - shared)) AS BIGINT)
             AS bucket
           FROM p JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM bkt),
         g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
           FROM bkt GROUP BY 1)
         SELECT bucket, n_pairs,
           round(CAST(n_pairs AS DOUBLE) / nt, 6) AS share
         FROM g CROSS JOIN tot""",
    "gr_degree_gini" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
           FROM e GROUP BY 1),
         bc AS (SELECT degree, CAST(count(*) AS BIGINT) AS k
           FROM deg GROUP BY 1),
         blk AS (SELECT degree, k,
             CAST(coalesce(sum(k) OVER (ORDER BY degree
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
           FROM bc),
         g AS (SELECT CAST(sum(k) AS BIGINT) AS nn,
             CAST(sum(degree * k) AS BIGINT) AS sd FROM bc)
         SELECT max(nn) AS n_nodes, max(sd) AS sum_degree,
           round(CAST(sum(CAST(degree AS HUGEINT) *
               ((CAST(k AS HUGEINT) * off * 2
                 + CAST(k AS HUGEINT) * (k + 1))
                 - CAST(k AS HUGEINT) * (nn + 1))) AS DOUBLE)
             / CAST(CAST(max(nn) AS HUGEINT) * max(sd) AS DOUBLE), 6)
             AS gini
         FROM blk CROSS JOIN g""",
    "st_median_test" ->
      """WITH pts AS (SELECT event_type AS g,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
           FROM events WHERE event_type IN ('click', 'view')),
         med AS (SELECT quantile_cont(c, 0.5) AS m FROM pts),
         cts AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c > m THEN 1 ELSE 0 END) AS BIGINT)
               AS above,
             max(m) AS m
           FROM pts CROSS JOIN med GROUP BY 1),
         a AS (SELECT n AS na, above AS aa, m FROM cts
           WHERE g = 'click'),
         b AS (SELECT n AS nb, above AS ab FROM cts WHERE g = 'view')
         SELECT na AS n_a, nb AS n_b, aa AS above_a, ab AS above_b,
           m / 100.0 AS grand_median,
           round(CAST(na + nb AS DOUBLE)
             * CAST(CAST(aa AS HUGEINT) * (nb - ab)
                 - CAST(ab AS HUGEINT) * (na - aa) AS DOUBLE)
             * CAST(CAST(aa AS HUGEINT) * (nb - ab)
                 - CAST(ab AS HUGEINT) * (na - aa) AS DOUBLE)
             / nullif(CAST(CAST(na AS HUGEINT) * nb * (aa + ab)
                 * (na + nb - aa - ab) AS DOUBLE), 0.0), 6) AS chi2
         FROM a CROSS JOIN b""",
    "st_runs_updown" ->
      """WITH hourly AS (SELECT
             epoch(date_trunc('hour', ts)) // 3600 AS hr,
             (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         mv AS (SELECT hr, CASE WHEN v > prev THEN 1 ELSE -1 END AS sgn
           FROM (SELECT hr, v, lag(v) OVER (ORDER BY hr) AS prev
             FROM hourly)
           WHERE prev IS NOT NULL AND v <> prev),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_moves,
             CAST(sum(CASE WHEN psgn IS NULL OR sgn <> psgn
               THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
           FROM (SELECT hr, sgn, lag(sgn) OVER (ORDER BY hr) AS psgn
             FROM mv))
         SELECT n_moves, n_runs,
           round(CASE WHEN n_moves >= 2 THEN
             (CAST(n_runs AS DOUBLE)
               - ((CAST(n_moves AS DOUBLE) + 1.0) * 2.0 - 1.0) / 3.0)
             / sqrt(((CAST(n_moves AS DOUBLE) + 1.0) * 16.0 - 29.0)
                 / 90.0)
             END, 6) AS z
         FROM ag""",
    "tx_wordlen_hist" ->
      """WITH tf AS (SELECT CAST(least(length(t), 20) AS BIGINT)
             AS word_len
           FROM (SELECT unnest(string_split(text, ' ')) AS t
             FROM documents)),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM tf),
         g AS (SELECT word_len, CAST(count(*) AS BIGINT) AS n
           FROM tf GROUP BY 1)
         SELECT word_len, n,
           round(CAST(n AS DOUBLE) / nt, 6) AS share
         FROM g CROSS JOIN tot""",
    "tx_vocab_gini" ->
      """WITH tf AS (SELECT t, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS t
             FROM documents)
           GROUP BY 1),
         bc AS (SELECT n, CAST(count(*) AS BIGINT) AS k
           FROM tf GROUP BY 1),
         blk AS (SELECT n, k,
             CAST(coalesce(sum(k) OVER (ORDER BY n
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
           FROM bc),
         g AS (SELECT CAST(count(*) AS BIGINT) AS nterms,
             CAST(sum(n) AS BIGINT) AS ntok FROM tf)
         SELECT max(nterms) AS n_terms, max(ntok) AS n_tokens,
           round(CAST(sum(CAST(n AS HUGEINT) *
               ((CAST(k AS HUGEINT) * off * 2
                 + CAST(k AS HUGEINT) * (k + 1))
                 - CAST(k AS HUGEINT) * (nterms + 1))) AS DOUBLE)
             / CAST(CAST(max(nterms) AS HUGEINT) * max(ntok)
               AS DOUBLE), 6) AS gini
         FROM blk CROSS JOIN g""",
    "dd_prefix_dup" ->
      """WITH p AS (SELECT md5(substr(text, 1, 64)) AS prefix_hash,
             doc_id
           FROM documents)
         SELECT prefix_hash, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc
         FROM p GROUP BY 1 HAVING count(*) > 1""",
    "ml_brier_decomp" ->
      """WITH sc AS (SELECT
             1.0 / (1.0 + exp(-(CAST(round(embedding[1] * 1000)
               AS BIGINT) / 200.0))) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
           FROM embeddings),
         q AS (SELECT CAST(floor(score * 10) AS INT) AS bin, y,
             CAST(round(score * 1000000) AS BIGINT) AS sq,
             CAST(round((score - y) * (score - y) * 1000000) AS BIGINT)
               AS bq
           FROM sc),
         b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(sq) AS BIGINT) AS ssum
           FROM q GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS nt,
             CAST(sum(y) AS BIGINT) AS pt,
             CAST(sum(bq) AS BIGINT) AS bsum FROM q),
         bb AS (SELECT
             CAST(round((CAST(n_pos AS DOUBLE) / n
                 - CAST(ssum AS DOUBLE) / (n * 1000000.0))
               * (CAST(n_pos AS DOUBLE) / n
                 - CAST(ssum AS DOUBLE) / (n * 1000000.0))
               * n * 1000000000.0 / nt) AS BIGINT) AS relq,
             CAST(round((CAST(n_pos AS DOUBLE) / n
                 - CAST(pt AS DOUBLE) / nt)
               * (CAST(n_pos AS DOUBLE) / n
                 - CAST(pt AS DOUBLE) / nt)
               * n * 1000000000.0 / nt) AS BIGINT) AS resq
           FROM b CROSS JOIN g),
         s AS (SELECT CAST(sum(relq) AS BIGINT) AS rels,
             CAST(sum(resq) AS BIGINT) AS ress FROM bb)
         SELECT nt AS n,
           floor(CAST(rels AS DOUBLE) / 1000.0 + 0.5) / 1e6 AS rel,
           floor(CAST(ress AS DOUBLE) / 1000.0 + 0.5) / 1e6 AS res,
           round(CAST(pt AS DOUBLE) / nt
             * (1.0 - CAST(pt AS DOUBLE) / nt), 6) AS unc,
           round(CAST(bsum AS DOUBLE) / (nt * 1000000.0), 6) AS brier,
           round(CAST(rels AS DOUBLE) / 1000000000.0
             - CAST(ress AS DOUBLE) / 1000000000.0
             + CAST(pt AS DOUBLE) / nt
               * (1.0 - CAST(pt AS DOUBLE) / nt), 6) AS brier_decomp
         FROM s CROSS JOIN g""",
    "st_page" ->
      """WITH b AS (SELECT user_id,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x1,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS x2,
             round(avg(CASE WHEN event_type = 'purchase' THEN value END),
               6) AS x3
           FROM events
           WHERE event_type IN ('click', 'view', 'purchase')
           GROUP BY 1
           HAVING x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL),
         r AS (SELECT
             1.0 + (CASE WHEN x2 < x1 THEN 1 ELSE 0 END)
                 + (CASE WHEN x3 < x1 THEN 1 ELSE 0 END)
                 + ((CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 = x1 THEN 1 ELSE 0 END)) / 2.0 AS r1,
             1.0 + (CASE WHEN x1 < x2 THEN 1 ELSE 0 END)
                 + (CASE WHEN x3 < x2 THEN 1 ELSE 0 END)
                 + ((CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 = x2 THEN 1 ELSE 0 END)) / 2.0 AS r2,
             1.0 + (CASE WHEN x1 < x3 THEN 1 ELSE 0 END)
                 + (CASE WHEN x2 < x3 THEN 1 ELSE 0 END)
                 + ((CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
                  + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END)) / 2.0 AS r3
           FROM b),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(r1 + r2 * 2 + r3 * 3) AS l FROM r)
         SELECT n, CAST(3 AS BIGINT) AS k, l,
           CAST(n AS DOUBLE) * 12.0 AS mu,
           round((l - CAST(n AS DOUBLE) * 12.0)
             / nullif(sqrt(CAST(n AS DOUBLE) * 2.0), 0.0), 6) AS z
         FROM a""",
    "ts_pettitt" ->
      """WITH hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT)
               AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         cnt AS (SELECT v, CAST(count(*) AS BIGINT) t
           FROM hourly GROUP BY 1),
         rk AS (SELECT v,
             2 * coalesce(sum(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS r2
           FROM cnt),
         n_ AS (SELECT CAST(count(*) AS BIGINT) n FROM hourly),
         u AS (SELECT hr, n,
             CAST(row_number() OVER (ORDER BY hr) AS BIGINT) * (n + 1)
               - sum(r2) OVER (ORDER BY hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
           FROM hourly JOIN rk USING (v) CROSS JOIN n_),
         k_ AS (SELECT max(abs(u)) k FROM u),
         at_ AS (SELECT min(hr) t_star, max(n) n, max(k) k
           FROM u, k_ WHERE abs(u) = k)
         SELECT n, t_star, CAST(k AS BIGINT) AS k_stat,
           round(least(1.0, 2.0 * exp(CAST(k AS DOUBLE) * k * -6.0
             / (CAST(n AS DOUBLE) * n * n
               + CAST(n AS DOUBLE) * n))), 6) AS p_value
         FROM at_""",
    "ts_sampen" ->
      """WITH hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT)
               AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         mo AS (SELECT CAST(count(*) AS BIGINT) nn,
             CAST(sum(v) AS HUGEINT) sv,
             sum(CAST(v AS HUGEINT) * v) svv FROM hourly),
         r_ AS (SELECT CAST(floor(sqrt(CAST(nn * svv - sv * sv
               AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1))) * 0.2
               + 0.5)
             AS BIGINT) r FROM mo),
         tpl AS (SELECT row_number() OVER (ORDER BY hr) AS i, v AS v0,
             lead(v, 1) OVER (ORDER BY hr) AS v1,
             lead(v, 2) OVER (ORDER BY hr) AS v2
           FROM hourly),
         t2 AS (SELECT * FROM tpl WHERE v2 IS NOT NULL),
         p AS (SELECT
             greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1)) <= r AS m2,
             greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1),
               abs(a.v2 - b.v2)) <= r AS m3, r
           FROM t2 a JOIN t2 b ON a.i < b.i CROSS JOIN r_),
         c AS (SELECT max(r) r6,
             CAST(sum(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT) b,
             CAST(sum(CASE WHEN m3 THEN 1 ELSE 0 END) AS BIGINT) a
           FROM p)
         SELECT round(r6 / 1e6, 6) AS r, b, a,
           CASE WHEN a = 0 OR b = 0 THEN NULL
             ELSE round(-ln(CAST(a AS DOUBLE) / b), 6) END AS sampen
         FROM c""",
    "ml_confusion" ->
      s"""WITH cm AS (SELECT * FROM ($MlNbOracleSql)),
         rt AS (SELECT true_lang AS cls, CAST(sum(n) AS BIGINT)
             AS support FROM cm GROUP BY 1),
         ct AS (SELECT pred_lang AS cls, CAST(sum(n) AS BIGINT)
             AS predicted FROM cm GROUP BY 1),
         dg AS (SELECT true_lang AS cls, CAST(sum(n) AS BIGINT) AS tp
           FROM cm WHERE true_lang = pred_lang GROUP BY 1),
         ov AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
               AS BIGINT) AS ndiag
           FROM cm),
         f AS (SELECT coalesce(rt.cls, ct.cls) AS cls,
             coalesce(support, 0) AS support,
             coalesce(predicted, 0) AS predicted
           FROM rt FULL JOIN ct ON rt.cls = ct.cls)
         SELECT f.cls, support, predicted, coalesce(tp, 0) AS tp,
           round(coalesce(tp, 0) / nullif(CAST(predicted AS DOUBLE), 0),
             6) AS precision,
           round(coalesce(tp, 0) / nullif(CAST(support AS DOUBLE), 0),
             6) AS recall,
           round(2.0 * coalesce(tp, 0) /
             nullif(CAST(support + predicted AS DOUBLE), 0), 6) AS f1,
           round(ndiag / CAST(nt AS DOUBLE), 6) AS accuracy
         FROM f LEFT JOIN dg ON f.cls = dg.cls CROSS JOIN ov""",
    "ml_kappa" ->
      s"""WITH cm AS (SELECT * FROM ($MlNbOracleSql)),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
               AS BIGINT) AS diag
           FROM cm),
         rt AS (SELECT true_lang AS k, CAST(sum(n) AS BIGINT) AS rt
           FROM cm GROUP BY 1),
         ct AS (SELECT pred_lang AS k, CAST(sum(n) AS BIGINT) AS ct
           FROM cm GROUP BY 1),
         pe AS (SELECT CAST(sum(rt * ct) AS BIGINT) AS rc
           FROM rt JOIN ct USING (k))
         SELECT nt AS n,
           round(diag / CAST(nt AS DOUBLE), 6) AS po,
           round(rc / (CAST(nt AS DOUBLE) * nt), 6) AS pe,
           round((diag / CAST(nt AS DOUBLE) -
             rc / (CAST(nt AS DOUBLE) * nt)) /
             nullif(1.0 - rc / (CAST(nt AS DOUBLE) * nt), 0), 6)
             AS kappa
         FROM tot CROSS JOIN pe""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity),2) AS sum_qty,
           round(sum(l_extendedprice),2) AS sum_base_price,
           CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0 AS sum_disc_price,
           round(avg(l_quantity),4) AS avg_qty,
           round(avg(l_discount),6) AS avg_disc,
           count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q2_filter_project" ->
      """SELECT CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
             + 100) // 200 AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q3_join_broadcast" ->
      """SELECT r_name, n_name,
           round(sum(o_totalprice),2) AS total_revenue, count(*) AS order_count
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q4_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q5_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_supps
         FROM lineitem GROUP BY l_returnflag""",
    "q6_union" ->
      """SELECT c_mktsegment, count(*) AS n FROM (
           SELECT * FROM customer WHERE c_acctbal > 1000
           UNION
           SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
         ) GROUP BY c_mktsegment""",
    "q7_except" ->
      """SELECT o_orderstatus, count(*) AS n FROM (
           SELECT * FROM orders
           EXCEPT ALL
           SELECT * FROM orders WHERE o_orderstatus = 'F'
         ) GROUP BY o_orderstatus""",
    "q25_intersect" ->
      """SELECT c_mktsegment, count(*) AS n FROM (
           SELECT * FROM customer WHERE c_acctbal > 1000
           INTERSECT ALL
           SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
         ) GROUP BY c_mktsegment""",
    "q26_grouping_sets" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
           round(sum(c_acctbal), 2) AS sum_bal
         FROM customer c
           JOIN nation n ON c_nationkey = n_nationkey
           JOIN region r ON n_regionkey = r_regionkey
         GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())""",
    "q8_casewhen" ->
      """SELECT o_orderstatus,
           CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 200000 THEN 'mid'
                ELSE 'high' END AS price_band,
           count(*) AS n, round(avg(o_totalprice),2) AS avg_price
         FROM orders GROUP BY 1, 2""",
    "q9_sql_view" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
         GROUP BY o_orderpriority""",
    "q10_rollup" ->
      """SELECT r_name, n_name,
           round(sum(o_totalprice),2) AS total_revenue, count(*) AS order_count
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)""",
    "q23_cube" ->
      """SELECT r_name, n_name,
           round(sum(o_totalprice),2) AS total_revenue, count(*) AS order_count
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY CUBE(r_name, n_name)""",
    "q24_corr_subquery" ->
      """SELECT o_custkey, count(*) AS n_max_orders
         FROM orders o
         WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                               WHERE o2.o_custkey = o.o_custkey)
         GROUP BY o_custkey""",
    "q11_semijoin" ->
      """SELECT c_nationkey, has_orders, count(*) AS n FROM (
           SELECT c_nationkey, TRUE AS has_orders FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders)
           UNION ALL
           SELECT c_nationkey, FALSE AS has_orders FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         ) GROUP BY c_nationkey, has_orders""",
    "q12_selfjoin" ->
      """SELECT count(*) AS pair_count
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber""",
    "q13_crossjoin_agg" ->
      """SELECT r_name, count(*) AS combos
         FROM region CROSS JOIN nation GROUP BY r_name""",
    "q14_pivot" ->
      """SELECT CAST(day(ts) AS INTEGER) AS day,
           count(CASE WHEN event_type='click' THEN 1 END) AS click,
           count(CASE WHEN event_type='error' THEN 1 END) AS error,
           count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type='signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type='view' THEN 1 END) AS view
         FROM events GROUP BY 1""",
    "q_unpivot" ->
      """SELECT CAST(day(ts) AS INTEGER) AS day, event_type,
           count(*) AS n
         FROM events
         WHERE event_type IN ('click','error','purchase','signup','view')
         GROUP BY 1, 2""",
    "q15_null_handling" ->
      """SELECT * FROM
         (SELECT count(*) AS n_filled_rows,
            round(sum(CASE WHEN value < 50 THEN 0.0 ELSE value END),2) AS sum_filled
          FROM events)
         CROSS JOIN
         (SELECT count(*) AS n_kept_rows, round(sum(value),2) AS sum_kept
          FROM events WHERE value >= 50)""",
    "q16_outer_join" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders,
           count(c_custkey) AS n_customer_rows
         FROM orders FULL OUTER JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q17_parse_ts" ->
      """SELECT CAST(year(parsed) AS INTEGER) AS y, count(*) AS n, min(s) AS min_s
         FROM (SELECT strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS s,
                      strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                               '%Y-%m-%d %H:%M:%S') AS parsed
               FROM orders)
         GROUP BY 1""",
    "q18_topk_per_group" ->
      """SELECT o_orderpriority, o_totalprice, o_orderkey FROM (
           SELECT o_orderpriority, o_totalprice, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "st_describe" ->
      """SELECT 'l_quantity' AS column, count(l_quantity) AS n,
           round(avg(l_quantity),4) AS mean, round(stddev_samp(l_quantity),4) AS std,
           round(min(l_quantity),4) AS minv, round(max(l_quantity),4) AS maxv
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', count(l_extendedprice),
           round(avg(l_extendedprice),4), round(stddev_samp(l_extendedprice),4),
           round(min(l_extendedprice),4), round(max(l_extendedprice),4)
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', count(l_discount),
           round(avg(l_discount),4), round(stddev_samp(l_discount),4),
           round(min(l_discount),4), round(max(l_discount),4)
         FROM lineitem""",
    "st_histogram" ->
      """SELECT CAST(least(19, greatest(0,
           floor((o_totalprice - 0.0) / (500000.0 - 0.0) * 20))) AS INTEGER) AS bucket,
           count(*) AS n
         FROM orders GROUP BY 1""",
    "st_quantiles" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.25),4) AS q25,
           round(quantile_cont(l_extendedprice, 0.5),4) AS q50,
           round(quantile_cont(l_extendedprice, 0.75),4) AS q75
         FROM lineitem""",
    "st_corr_cov" ->
      """SELECT round(corr(l_quantity, l_extendedprice),6) AS corr_xy,
           round(covar_samp(l_quantity, l_extendedprice),4) AS cov_xy
         FROM lineitem""",
    "st_ttest" ->
      """WITH s AS (SELECT event_type, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM events GROUP BY 1)
         SELECT a.event_type AS group_a, b.event_type AS group_b,
           a.n AS na, b.n AS nb,
           round((a.m - b.m) / sqrt(a.v/a.n + b.v/b.n), 4) AS t_stat,
           round(pow(a.v/a.n + b.v/b.n, 2) /
             (pow(a.v/a.n, 2)/(a.n - 1) + pow(b.v/b.n, 2)/(b.n - 1)), 4)
             AS df
         FROM s a JOIN s b ON a.event_type < b.event_type""",
    "st_levene" ->
      """WITH med AS (SELECT event_type,
             quantile_cont(value, 0.5) AS md
           FROM events GROUP BY 1),
         z AS (SELECT e.event_type, abs(e.value - m.md) AS zv
           FROM events e JOIN med m ON e.event_type = m.event_type),
         g AS (SELECT event_type, count(zv) AS n, avg(zv) AS m,
             var_samp(zv) AS v
           FROM z GROUP BY 1),
         gr AS (SELECT sum(n*m)/sum(n) AS gm, sum(n) AS nt, count(*) AS k
           FROM g),
         a AS (SELECT max(k) AS k, max(nt) AS n_total,
             sum(n * pow(m - gm, 2)) AS ssb, sum((n - 1) * v) AS ssw
           FROM g, gr)
         SELECT CAST(k AS BIGINT) AS k, CAST(n_total AS BIGINT) AS n_total,
           round((ssb/(k - 1)) / (ssw/(n_total - k)), 4) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df1, CAST(n_total - k AS BIGINT) AS df2
         FROM a""",
    "st_cohens_d" ->
      """WITH s AS (SELECT event_type, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM events GROUP BY 1)
         SELECT a.event_type AS group_a, b.event_type AS group_b,
           a.n AS na, b.n AS nb,
           round((a.m - b.m) /
             sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v) / (a.n + b.n - 2)),
             4) AS cohens_d
         FROM s a JOIN s b ON a.event_type < b.event_type""",
    "st_anova" ->
      """WITH g AS (SELECT event_type, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM events GROUP BY 1),
         gr AS (SELECT sum(n*m)/sum(n) AS gm, sum(n) AS nt, count(*) AS k
           FROM g),
         a AS (SELECT max(k) AS k, max(nt) AS n_total,
             sum(n * pow(m - gm, 2)) AS ssb, sum((n - 1) * v) AS ssw
           FROM g, gr)
         SELECT CAST(k AS BIGINT) AS k, CAST(n_total AS BIGINT) AS n_total,
           round((ssb/(k - 1)) / (ssw/(n_total - k)), 4) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df1, CAST(n_total - k AS BIGINT) AS df2
         FROM a""",
    "st_spearman" ->
      """WITH r AS (SELECT l_quantity AS xv, l_extendedprice AS yv
           FROM lineitem),
         rx AS (SELECT xv, avg(rn) AS rkx
           FROM (SELECT xv, row_number() OVER (ORDER BY xv) AS rn FROM r)
           GROUP BY 1),
         ry AS (SELECT yv, avg(rn) AS rky
           FROM (SELECT yv, row_number() OVER (ORDER BY yv) AS rn FROM r)
           GROUP BY 1)
         SELECT count(*) AS n, round(corr(rkx, rky), 6) AS spearman_rho
         FROM r JOIN rx USING (xv) JOIN ry USING (yv)""",
    "st_benford" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice
             / pow(10, floor(log10(o_totalprice)))) AS INTEGER) AS digit,
           count(*) AS n
           FROM orders WHERE o_totalprice > 0 GROUP BY 1),
         t AS (SELECT sum(n) AS total FROM c)
         SELECT digit, n, round(n / total, 6) AS observed,
           round(log10(1.0 + 1.0 / digit), 6) AS expected
         FROM c, t""",
    "st_jarque_bera" ->
      """WITH x AS (SELECT event_type,
             CAST(round(value * 1e4) AS HUGEINT) AS x FROM events),
         s AS (SELECT event_type, count(*) AS n,
             sum(x) AS s1, sum(x * x) AS s2, sum(x * x * x) AS s3,
             sum((x * x) * (x * x)) AS s4
           FROM x GROUP BY 1),
         d AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
             CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
           FROM s),
         m AS (SELECT event_type, n, nd, s1 / nd AS mu,
             s2 / nd AS r2, s3 / nd AS r3, s4 / nd AS r4 FROM d),
         mm AS (SELECT event_type, n, nd,
             r2 - mu * mu AS m2,
             r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
             r4 - 4 * mu * r3 + 6 * (mu * mu) * r2
               - 3 * (mu * mu) * (mu * mu) AS m4
           FROM m),
         sk AS (SELECT event_type, n, nd,
             m3 / nullif(m2 * sqrt(m2), 0) AS skew,
             m4 / nullif(m2 * m2, 0) AS kurt
           FROM mm)
         SELECT event_type, n, round(skew, 6) AS skewness,
           round(kurt, 6) AS kurtosis,
           round(nd / 6 * (skew * skew
             + (kurt - 3) * (kurt - 3) / 4), 4) AS jb
         FROM sk""",
    "st_mi" ->
      """WITH j AS (SELECT lang, source, count(*) AS nxy
             FROM documents GROUP BY 1, 2),
         mx AS (SELECT lang, sum(nxy) AS nx FROM j GROUP BY 1),
         my AS (SELECT source, sum(nxy) AS ny FROM j GROUP BY 1),
         t AS (SELECT sum(nxy) AS n FROM j)
         SELECT round(sum((nxy / n) * ln(nxy * n / (nx * ny))), 6)
             AS mi_nats,
           CAST(max(n) AS BIGINT) AS n_total, count(*) AS n_cells
         FROM j JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN t""",
    "gr_components" ->
      """WITH RECURSIVE p AS (SELECT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 4),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         reach(a, b) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         comp AS (SELECT a AS node, least(a, min(b)) AS label
           FROM reach GROUP BY a)
         SELECT label, count(*) AS n_nodes FROM comp GROUP BY label""",
    "gr_bfs" ->
      """WITH RECURSIVE p AS (SELECT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 2),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         walk(node, d) AS (
           SELECT DISTINCT src, 0 FROM e WHERE src % 29 = 0
           UNION
           SELECT e.dst, w.d + 1 FROM walk w JOIN e ON w.node = e.src
             WHERE w.d < 4),
         dist AS (SELECT node, min(d) AS dist FROM walk GROUP BY node)
         SELECT dist, count(*) AS n_nodes FROM dist GROUP BY dist""",
    "dq_volume_anomaly" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
         m AS (SELECT quantile_cont(n, CAST(0.5 AS DOUBLE)) AS med
           FROM d),
         s AS (SELECT quantile_cont(abs(n - med), CAST(0.5 AS DOUBLE))
             AS mad, max(med) AS med
           FROM d CROSS JOIN m)
         SELECT day, n,
           round(0.6745 * (n - med) / nullif(mad, 0), 4) AS robust_z,
           abs(round(0.6745 * (n - med) / nullif(mad, 0), 4)) > 3.5
             AS flagged
         FROM d CROSS JOIN s ORDER BY day""",
    "tx_chao1" ->
      """WITH tf AS (SELECT t, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS t
             FROM documents) GROUP BY 1),
         s AS (SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dis
           FROM tf)
         SELECT n_tokens, vocab, n_hapax, n_dis,
           round(CAST(n_hapax AS DOUBLE) /
             nullif(CAST(n_tokens AS DOUBLE), 0), 6) AS missing_mass,
           floor((vocab + CAST(n_hapax * (n_hapax - 1) AS DOUBLE)
             / (2.0 * (n_dis + 1))) * 100 + 0.5) / 100 AS chao1
         FROM s""",
    "st_overdispersion" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS c
           FROM events WHERE event_type = 'click' GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(avg(c), 4) AS mean_count,
           round(var_samp(c), 4) AS var_count,
           round(var_samp(c) / nullif(avg(c), 0), 6) AS dispersion,
           round((var_samp(c) / nullif(avg(c), 0) - 1)
             * sqrt((count(*) - 1) / 2.0), 4) AS z
         FROM d""",
    "st_capture_recapture" ->
      """WITH f AS (SELECT user_id,
             max(CASE WHEN ts < DATE '2024-01-08'
               THEN 1 ELSE 0 END) AS in1,
             max(CASE WHEN ts >= DATE '2024-01-08'
               AND ts < DATE '2024-01-15' THEN 1 ELSE 0 END) AS in2
           FROM events GROUP BY 1)
         SELECT CAST(sum(in1) AS BIGINT) AS n1,
           CAST(sum(in2) AS BIGINT) AS n2,
           CAST(sum(in1 * in2) AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS seen_total,
           round((sum(in1) + 1) * (sum(in2) + 1)
             / CAST(sum(in1 * in2) + 1 AS DOUBLE) - 1.0, 2)
             AS n_estimate
         FROM f""",
    "gr_reciprocity" ->
      """WITH p2 AS (SELECT o_custkey AS a, l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 2),
         p3 AS (SELECT o_custkey AS a, l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 3),
         e AS (SELECT a AS src, b AS dst FROM p2
           UNION ALL SELECT b, a FROM p3),
         f AS (SELECT e.src, e.dst,
             CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS rev
           FROM e LEFT JOIN (SELECT dst AS src, src AS dst FROM e) r
             ON e.src = r.src AND e.dst = r.dst)
         SELECT CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(rev) AS BIGINT) AS n_mutual,
           round(CAST(sum(rev) AS DOUBLE) / count(*), 6) AS reciprocity
         FROM f""",
    "gr_diameter" ->
      """WITH RECURSIVE p AS (SELECT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 2),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         nd AS (SELECT DISTINCT src AS node FROM e),
         lmk AS (SELECT node FROM nd
           ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 8),
         walk(node, lm, d) AS (
           SELECT node, node, 0 FROM lmk
           UNION
           SELECT e.dst, w.lm, w.d + 1 FROM walk w JOIN e ON w.node = e.src
             WHERE w.d < 6),
         dist AS (SELECT node, lm, min(d) AS dist FROM walk
           GROUP BY 1, 2 HAVING min(d) > 0),
         bd AS (SELECT dist, CAST(count(*) AS BIGINT) AS c
           FROM dist GROUP BY 1),
         cu AS (SELECT dist, c,
             sum(c) OVER (ORDER BY dist
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER () AS tot
           FROM bd)
         SELECT CAST(max(tot) AS BIGINT) AS reached_pairs,
           CAST(max(dist) AS INTEGER) AS diameter_lb,
           CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN dist END)
             AS INTEGER) AS eff_diameter_90
         FROM cu""",
    "gr_closeness" ->
      """WITH RECURSIVE p AS (SELECT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 2),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         nd AS (SELECT DISTINCT src AS node FROM e),
         lmk AS (SELECT node FROM nd
           ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 8),
         walk(node, lm, d) AS (
           SELECT node, node, 0 FROM lmk
           UNION
           SELECT e.dst, w.lm, w.d + 1 FROM walk w JOIN e ON w.node = e.src
             WHERE w.d < 6),
         dist AS (SELECT node, lm, min(d) AS dist FROM walk GROUP BY 1, 2)
         SELECT node, count(*) AS n_lm,
           round(sum(1.0 / dist), 6) AS harmonic
         FROM dist WHERE dist > 0 GROUP BY node
         ORDER BY harmonic DESC, node LIMIT 20""",
    "tx_lexdiv" ->
      """WITH tf AS (SELECT source, t AS term, count(*) AS n
           FROM (SELECT source, unnest(string_split(text, ' ')) AS t
             FROM documents)
           GROUP BY 1, 2)
         SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
           count(*) AS vocab,
           round(count(*) / CAST(sum(n) AS DOUBLE), 6) AS ttr,
           round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_share
         FROM tf GROUP BY 1""",
    "tx_zipf" ->
      """WITH tf AS (SELECT t AS term, count(*) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS t
             FROM documents)
           GROUP BY 1),
         top AS (SELECT term, n FROM tf ORDER BY n DESC, term LIMIT 1000),
         r AS (SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rank
           FROM top)
         SELECT count(*) AS n_terms,
           round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
           round(regr_intercept(ln(n), ln(rank)), 6) AS zipf_intercept,
           round(regr_r2(ln(n), ln(rank)), 6) AS r2
         FROM r""",
    "gr_degree" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         deg AS (SELECT src, count(*) AS degree FROM e GROUP BY 1)
         SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1""",
    "gr_powerlaw" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
           FROM e GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
             max(degree) AS d_max,
             sum(ln(CAST(degree AS DOUBLE) / 1.5)) AS slog
           FROM deg WHERE degree >= 2)
         SELECT 2 AS d_min, n_tail, d_max,
           round(1.0 + n_tail / nullif(slog, 0), 6) AS alpha
         FROM t""",
    "gr_triangles" ->
      """WITH c AS (SELECT l1.l_suppkey AS s1, l2.l_suppkey AS s2,
             count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         e AS (SELECT s1 AS a, s2 AS b FROM c
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM c)),
         deg AS (SELECT node, count(*) AS deg FROM
           (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         tri AS (SELECT count(*) AS n_tri FROM e e1
           JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         shape AS (SELECT count(*) AS n_nodes,
             CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
             CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
           FROM deg)
         SELECT n_nodes, n_edges, n_wedges, n_tri AS n_triangles,
           round(3.0 * n_tri / n_wedges, 6) AS clustering_coeff
         FROM shape CROSS JOIN tri""",
    "gr_jaccard" ->
      """WITH c AS (SELECT l1.l_suppkey AS s1, l2.l_suppkey AS s2,
             count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         e AS (SELECT s1 AS a, s2 AS b FROM c
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM c)),
         nb AS (SELECT a AS u, b AS w FROM e UNION ALL SELECT b, a FROM e),
         deg AS (SELECT u AS node, count(*) AS deg FROM nb GROUP BY 1),
         cm AS (SELECT n1.u AS x, n2.u AS y, count(*) AS common
           FROM nb n1 JOIN nb n2 ON n1.w = n2.w AND n1.u < n2.u
           GROUP BY 1, 2),
         nc AS (SELECT cm.* FROM cm
           ANTI JOIN e ON cm.x = e.a AND cm.y = e.b),
         j AS (SELECT x, y, common,
             round(CAST(common AS DOUBLE) / (dx.deg + dy.deg - common), 6)
               AS jaccard
           FROM nc JOIN deg dx ON dx.node = nc.x
                   JOIN deg dy ON dy.node = nc.y)
         SELECT x, y, common, jaccard FROM j
         ORDER BY jaccard DESC, x, y LIMIT 20""",
    "gr_assortativity" ->
      """WITH c AS MATERIALIZED (SELECT l1.l_suppkey AS s1,
             l2.l_suppkey AS s2, count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         e AS (SELECT s1 AS a, s2 AS b FROM c
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM c)),
         e0 AS MATERIALIZED (SELECT DISTINCT *
           FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e)),
         deg AS (SELECT a, count(*) AS deg FROM e0 GROUP BY 1),
         p AS (SELECT dx.deg AS dx, dy.deg AS dy FROM e0
           JOIN deg dx ON dx.a = e0.a JOIN deg dy ON dy.a = e0.b),
         s AS (SELECT count(*) AS m2, sum(dx) AS sx, sum(dy) AS sy,
             sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
             sum(dy * dy) AS syy FROM p),
         d AS (SELECT m2, CAST(m2 AS DOUBLE) AS n,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
             CAST(syy AS DOUBLE) AS syy FROM s)
         SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           round((n * sxy - sx * sy) /
             nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0),
             6) AS assortativity
         FROM d""",
    "ml_kmeans" ->
      s"""WITH b2 AS (SELECT * FROM ($MlKmeansAssignSql))
         SELECT cell, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(floor(cos*1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0), 6) AS avg_cos
         FROM b2 GROUP BY 1""",
    "ml_cluster_purity" ->
      s"""WITH b2 AS (SELECT * FROM ($MlKmeansAssignSql)),
         j AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS c
           FROM b2 JOIN embeddings USING (vec_id) GROUP BY 1, 2),
         t AS (SELECT cell, label, c,
             row_number() OVER (PARTITION BY cell
               ORDER BY c DESC, label DESC) AS rn,
             sum(c) OVER (PARTITION BY cell) AS n
           FROM j)
         SELECT cell, CAST(n AS BIGINT) AS n, label AS top_label,
           round(CAST(c AS DOUBLE) / n, 6) AS purity
         FROM t WHERE rn = 1""",
    "ml_isotropy" ->
      """WITH vv AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
         v AS (SELECT vec_id, q,
             list_aggregate(list_transform(q, y -> y*y), 'sum') AS ssq
           FROM vv),
         e AS (SELECT unnest(generate_series(1, len(q))) AS pos,
             unnest(q) AS x, ssq
           FROM v),
         u AS (SELECT pos,
             CAST(floor(x * 1e6 / sqrt(ssq) + 0.5) AS BIGINT) AS uq
           FROM e),
         d AS (SELECT pos, sum(CAST(uq AS HUGEINT)) AS s,
             sum(CAST(uq AS HUGEINT) * uq) AS sq
           FROM u GROUP BY 1),
         a AS (SELECT CAST(count(*) AS BIGINT) AS dim,
             sum(s * s) AS ss, sum(sq) AS self,
             max(abs(s)) AS max_abs_s
           FROM d),
         n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
         SELECT n, dim,
           round(CAST(ss - self AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e12,
             6) AS avg_pair_cos,
           round(CAST(max_abs_s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6,
             6) AS max_dim_mean
         FROM a CROSS JOIN n_""",
    "dwh_fx" ->
      """WITH months AS (SELECT unnest(generate_series(0, 83)) AS m),
         rates AS (SELECT CAST(n_nationkey AS BIGINT) AS cur,
             CAST(m AS BIGINT) AS m,
             1000000 + (CAST(n_nationkey AS BIGINT) * 37 + m * 13)
               % 500000 AS rate
           FROM nation CROSS JOIN months WHERE m % 3 = 1),
         f AS (SELECT CAST(c.c_nationkey AS BIGINT) AS cur,
             CAST((year(o_orderdate) - 1992) * 12
               + month(o_orderdate) - 1 AS BIGINT) AS m,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders JOIN customer c ON o_custkey = c.c_custkey),
         j AS (SELECT f.cur, f.cents, r.rate
           FROM f ASOF JOIN rates r
             ON f.cur = r.cur AND f.m >= r.m)
         SELECT cur AS currency, CAST(count(*) AS BIGINT) AS n_orders,
           floor(CAST(sum(CAST(cents AS HUGEINT) * rate) AS DOUBLE)
             / 1e6 + 0.5) / 100 AS converted
         FROM j GROUP BY 1""",
    "st_wquantile" ->
      """WITH pts AS (SELECT l_extendedprice AS v,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS t
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(t) AS BIGINT) AS w FROM pts),
         cum AS (SELECT v, sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
           FROM pts),
         ps AS (SELECT CAST(p AS BIGINT) AS p
           FROM (VALUES (25), (50), (75)) t(p))
         SELECT p, min(v) AS wq, max(w) AS total_weight
         FROM cum CROSS JOIN tot CROSS JOIN ps
         WHERE cw * 100 >= w * p GROUP BY 1""",
    "st_ipf" -> StIpfOracleSql,
    "q40_skyline" ->
      """WITH pts AS (SELECT CAST(p_size AS BIGINT) AS size,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
           FROM part),
         bysize AS (SELECT size, max(cents) AS best FROM pts
           GROUP BY 1),
         perprice AS (SELECT size, cents,
             CAST(count(*) AS BIGINT) AS n_parts
           FROM pts GROUP BY 1, 2),
         sky AS (SELECT size, best,
             coalesce(max(best) OVER (ORDER BY size
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               AS prevmax
           FROM bysize)
         SELECT sky.size, round(best / 100.0, 2) AS retail_price,
           n_parts
         FROM sky JOIN perprice
           ON sky.size = perprice.size AND sky.best = perprice.cents
         WHERE best > prevmax""",
    "q39_grouping_id" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CASE WHEN GROUPING(l_returnflag, l_linestatus) = 0
               THEN 'cell'
             WHEN GROUPING(l_returnflag, l_linestatus) = 1
               THEN 'flag_total'
             ELSE 'grand_total' END AS level,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             / 100.0, 2) AS revenue
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "dq_column_stats" ->
      """WITH q AS (SELECT *,
             CAST(round(o_totalprice * 100) AS BIGINT)
               AS o_totalprice_cents
           FROM orders)
         SELECT 'o_orderkey' AS column,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM q
         UNION ALL
         SELECT 'o_custkey',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR),
           CAST(max(o_custkey) AS VARCHAR) FROM q
         UNION ALL
         SELECT 'o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus) FROM q
         UNION ALL
         SELECT 'o_totalprice_cents',
           CAST(sum(CASE WHEN o_totalprice_cents IS NULL THEN 1 ELSE 0
             END) AS BIGINT),
           CAST(count(DISTINCT o_totalprice_cents) AS BIGINT),
           CAST(min(o_totalprice_cents) AS VARCHAR),
           CAST(max(o_totalprice_cents) AS VARCHAR) FROM q
         UNION ALL
         SELECT 'o_orderdate',
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT),
           CAST(min(o_orderdate) AS VARCHAR),
           CAST(max(o_orderdate) AS VARCHAR) FROM q
         UNION ALL
         SELECT 'o_orderpriority',
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
             END) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority) FROM q""",
    "st_by_battery" ->
      """WITH s AS (SELECT event_type, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM events GROUP BY 1),
         t AS (SELECT a.event_type AS group_a, b.event_type AS group_b,
             round((a.m - b.m) / sqrt(a.v/a.n + b.v/b.n), 4) AS t_stat
           FROM s a JOIN s b ON a.event_type < b.event_type),
         pz AS (SELECT group_a, group_b, t_stat, abs(t_stat) AS x,
             1.0 / (1.0 + 0.2316419 * abs(t_stat)) AS k
           FROM t),
         pv AS (SELECT group_a, group_b, t_stat,
             round(2.0 * (exp(-x * x / 2.0) * 0.3989422804014327) *
               (k * (0.319381530 + k * (-0.356563782 +
                k * (1.781477937 + k * (-1.821255978 +
                k * 1.330274429))))), 8) AS p
           FROM pz),
         rk AS (SELECT group_a, group_b, t_stat, p,
             CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(row_number() OVER (ORDER BY p, group_a, group_b)
               AS BIGINT) AS i
           FROM pv),
         rk2 AS (SELECT *, sum(1.0 / i) OVER () AS cm FROM rk),
         adj AS (SELECT group_a, group_b, t_stat, p,
             round(least(1.0, min(p * m * cm / i) OVER (ORDER BY i
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6)
               AS p_adj
           FROM rk2)
         SELECT group_a, group_b, t_stat, p, p_adj,
           p_adj <= 0.05 AS significant
         FROM adj""",
    "st_kuiper" ->
      """WITH pts AS (SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM pts),
         cum AS (SELECT
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ma,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mb
           FROM pts),
         f AS (SELECT max(CAST(ma AS DOUBLE) / na
               - CAST(mb AS DOUBLE) / nb) AS dp,
             max(CAST(mb AS DOUBLE) / nb
               - CAST(ma AS DOUBLE) / na) AS dm,
             max(na) AS na, max(nb) AS nb
           FROM cum CROSS JOIN tot)
         SELECT na AS n_a, nb AS n_b,
           round(greatest(dp, 0.0), 6) AS d_plus,
           round(greatest(dm, 0.0), 6) AS d_minus,
           round(greatest(dp, 0.0) + greatest(dm, 0.0), 6) AS v_stat
         FROM f""",
    "st_cohens_h" ->
      """WITH cell AS (SELECT arm,
             CAST(sum(CASE WHEN yes THEN 1 ELSE 0 END) AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS n
           FROM (SELECT
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                 < '8' THEN 'A' ELSE 'B' END AS arm,
               value >= 100.0 AS yes
             FROM events) GROUP BY 1),
         w AS (SELECT
             max(CASE WHEN arm = 'A' THEN k END) AS ka,
             max(CASE WHEN arm = 'A' THEN n END) AS na,
             max(CASE WHEN arm = 'B' THEN k END) AS kb,
             max(CASE WHEN arm = 'B' THEN n END) AS nb
           FROM cell)
         SELECT round(CAST(ka AS DOUBLE) / na, 6) AS p_a,
           round(CAST(kb AS DOUBLE) / nb, 6) AS p_b,
           round(2.0 * asin(sqrt(CAST(kb AS DOUBLE) / nb))
             - 2.0 * asin(sqrt(CAST(ka AS DOUBLE) / na)), 6)
             AS cohens_h
         FROM w""",
    "ts_drawdown" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS v
           FROM events GROUP BY 1),
         dd AS (SELECT day, v,
             max(v) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
           FROM daily),
         top AS (SELECT max(peak - v) AS mdd,
             CAST(count(*) AS BIGINT) AS n_days FROM dd),
         at_ AS (SELECT mdd, n_days, min(day) AS trough_day
           FROM dd CROSS JOIN top WHERE peak - v = mdd
           GROUP BY 1, 2),
         pk AS (SELECT at_.mdd, at_.n_days, at_.trough_day, dd.peak
           FROM at_ JOIN dd ON dd.day = at_.trough_day)
         SELECT n_days, trough_day,
           round(CAST(mdd AS DOUBLE) / 100.0, 2) AS max_drawdown,
           round(CAST(peak AS DOUBLE) / 100.0, 2) AS peak_revenue
         FROM pk""",
    "st_yuen" ->
      """WITH pts AS (SELECT CAST(round(value * 1e6) AS BIGINT) AS q,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM pts),
         cum AS (SELECT q, ca, cb,
             coalesce(sum(ca) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ba,
             coalesce(sum(cb) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bb
           FROM pts),
         par AS (SELECT na, nb,
             CAST(floor(CAST(na AS DOUBLE) * 0.2) AS BIGINT) AS gat,
             CAST(floor(CAST(nb AS DOUBLE) * 0.2) AS BIGINT) AS gbt
           FROM tot),
         wts AS (SELECT q, ca, cb, ba, bb, na, nb, gat, gbt,
             greatest(0, least(na - gat, ba + ca)
               - greatest(gat + 1, ba + 1) + 1) AS wa,
             greatest(0, least(nb - gbt, bb + cb)
               - greatest(gbt + 1, bb + 1) + 1) AS wb
           FROM cum CROSS JOIN par),
         agg AS (SELECT max(na) AS na, max(nb) AS nb,
             sum(CAST(wa AS HUGEINT) * q) AS sa,
             sum(CAST(wa AS HUGEINT) * q * q) AS sa2,
             sum(CAST(wb AS HUGEINT) * q) AS sb,
             sum(CAST(wb AS HUGEINT) * q * q) AS sb2,
             min(CASE WHEN ba + ca >= gat + 1 THEN q END) AS qloa,
             min(CASE WHEN ba + ca >= na - gat THEN q END) AS qhia,
             min(CASE WHEN bb + cb >= gbt + 1 THEN q END) AS qlob,
             min(CASE WHEN bb + cb >= nb - gbt THEN q END) AS qhib
           FROM wts),
         f AS (SELECT na, nb, CAST(na AS DOUBLE) AS nad,
             CAST(nb AS DOUBLE) AS nbd,
             floor(CAST(na AS DOUBLE) * 0.2) AS gad,
             floor(CAST(nb AS DOUBLE) * 0.2) AS gbd,
             CAST(sa AS DOUBLE) AS sad, CAST(sa2 AS DOUBLE) AS sa2d,
             CAST(sb AS DOUBLE) AS sbd, CAST(sb2 AS DOUBLE) AS sb2d,
             qloa, qhia, qlob, qhib
           FROM agg),
         g AS (SELECT na, nb,
             nad - 2.0 * gad AS ha, nbd - 2.0 * gbd AS hb,
             sad / (nad - 2.0 * gad) / 1e6 AS tma,
             sbd / (nbd - 2.0 * gbd) / 1e6 AS tmb,
             ((sa2d + gad * (CAST(qloa AS DOUBLE) * qloa)
                 + gad * (CAST(qhia AS DOUBLE) * qhia))
               - (sad + gad * qloa + gad * qhia)
                 * (sad + gad * qloa + gad * qhia) / nad)
               / ((nad - 2.0 * gad) * (nad - 2.0 * gad - 1.0)) / 1e12
               AS da,
             ((sb2d + gbd * (CAST(qlob AS DOUBLE) * qlob)
                 + gbd * (CAST(qhib AS DOUBLE) * qhib))
               - (sbd + gbd * qlob + gbd * qhib)
                 * (sbd + gbd * qlob + gbd * qhib) / nbd)
               / ((nbd - 2.0 * gbd) * (nbd - 2.0 * gbd - 1.0)) / 1e12
               AS db
           FROM f)
         SELECT na AS n_a, nb AS n_b,
           CAST(ha AS BIGINT) AS h_a, CAST(hb AS BIGINT) AS h_b,
           round(tma, 6) AS tmean_a, round(tmb, 6) AS tmean_b,
           round((tma - tmb) / nullif(sqrt(da + db), 0.0), 4)
             AS yuen_t
         FROM g""",
    "ml_stump" ->
      """WITH pts AS (SELECT n_chars AS v,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
               AS BIGINT) AS n0
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
             CAST(sum(n0) AS BIGINT) AS t0 FROM pts),
         cum AS (SELECT v,
             sum(n1) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             sum(n0) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0
           FROM pts),
         cand AS (SELECT v, t0, t1, c0, c1, c0 + c1 AS nl,
             t0 + t1 - c0 - c1 AS nr
           FROM cum CROSS JOIN tot
           WHERE t0 + t1 - c0 - c1 > 0),
         sc AS (SELECT v, t0, t1, nl, nr,
             CAST((((CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1)
                   * nr
                 + (CAST(t0 - c0 AS HUGEINT) * (t0 - c0)
                   + CAST(t1 - c1 AS HUGEINT) * (t1 - c1)) * nl)
                 * 1000000000 * 2
               + CAST(nl AS HUGEINT) * nr)
               // (CAST(nl AS HUGEINT) * nr * 2) AS BIGINT) AS s9
           FROM cand),
         best AS (SELECT * FROM sc ORDER BY s9 DESC, v LIMIT 1)
         SELECT v AS threshold, CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           round((1.0 - CAST(CAST(t0 AS HUGEINT) * t0
               + CAST(t1 AS HUGEINT) * t1 AS DOUBLE)
               / (CAST(t0 + t1 AS DOUBLE) * CAST(t0 + t1 AS DOUBLE)))
             - (1.0 - CAST(s9 AS DOUBLE) / 1e9
               / CAST(t0 + t1 AS DOUBLE)), 6) AS gini_gain
         FROM best""",
    "dwh_date_dim" ->
      """WITH d AS (SELECT unnest(generate_series(DATE '1992-01-01',
             DATE '1998-12-31', INTERVAL 1 DAY))::DATE AS date)
         SELECT date, CAST(epoch(date) // 86400 AS BIGINT) AS epoch_day,
           CAST(year(date) AS BIGINT) AS year,
           CAST(quarter(date) AS BIGINT) AS quarter,
           CAST(month(date) AS BIGINT) AS month,
           CAST(day(date) AS BIGINT) AS dom,
           CAST(epoch(date) // 86400 % 7 AS BIGINT) AS dow,
           epoch(date) // 86400 % 7 IN (2, 3) AS is_weekend,
           date = last_day(date) AS is_month_end,
           CAST(year(date) + CASE WHEN month(date) >= 2 THEN 0 ELSE -1
             END AS BIGINT) AS fiscal_year
         FROM d""",
    "st_nelson_aalen" ->
      """WITH pu AS (SELECT user_id,
             CAST(min(epoch_us(ts)) AS BIGINT) AS f,
             CAST(max(epoch_us(ts)) AS BIGINT) AS l,
             CAST(min(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) AS BIGINT) AS p
           FROM events GROUP BY 1),
         lt AS (SELECT
             CAST((coalesce(p, l) - f) // 86400000000 AS BIGINT)
               AS dur,
             p IS NOT NULL AS ev
           FROM pu),
         tbl AS (SELECT dur,
             CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
           FROM lt GROUP BY 1),
         tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS nt FROM tbl),
         rt AS (SELECT dur, d, c,
             nt - CAST(coalesce(sum(d + c) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
           FROM tbl CROSS JOIN tot)
         SELECT dur AS dur_days, n_risk, d, c,
           round(CAST(sum(CAST(floor(CAST(d AS DOUBLE) / n_risk * 1e9 + 0.5)
               AS BIGINT)) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / 1e9, 6) AS cum_hazard
         FROM rt""",
    "st_logrank" ->
      """WITH pu AS (SELECT user_id,
             CAST(min(epoch_us(ts)) AS BIGINT) AS f,
             CAST(max(epoch_us(ts)) AS BIGINT) AS l,
             CAST(min(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) AS BIGINT) AS p
           FROM events GROUP BY 1),
         lt AS (SELECT user_id,
             CAST((coalesce(p, l) - f) // 86400000000 AS BIGINT)
               AS dur,
             p IS NOT NULL AS ev
           FROM pu),
         la AS (SELECT dur, ev,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
               < '8' THEN 'A' ELSE 'B' END AS arm
           FROM lt),
         tbl AS (SELECT dur,
             CAST(sum(CASE WHEN ev AND arm = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS da,
             CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS ta,
             CAST(count(*) AS BIGINT) AS tt
           FROM la GROUP BY 1),
         tot AS (SELECT CAST(sum(ta) AS BIGINT) AS na_tot,
             CAST(sum(tt) AS BIGINT) AS n_tot FROM tbl),
         rk AS (SELECT da, d, na_tot, n_tot,
             na_tot - CAST(coalesce(sum(ta) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS na,
             n_tot - CAST(coalesce(sum(tt) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n
           FROM tbl CROSS JOIN tot),
         q AS (SELECT na_tot, n_tot,
             CAST(floor((CAST(da AS DOUBLE)
               - d * (CAST(na AS DOUBLE) / n)) * 1e6 + 0.5) AS BIGINT)
               AS dev6,
             CAST(floor(CAST(d AS DOUBLE) * (CAST(na AS DOUBLE) / n)
               * (1.0 - CAST(na AS DOUBLE) / n)
               * (CAST(n AS DOUBLE) - d) / (CAST(n AS DOUBLE) - 1.0)
               * 1e6 + 0.5) AS BIGINT) AS v6
           FROM rk WHERE n > 1 AND d > 0)
         SELECT na_tot AS n_a, n_tot - na_tot AS n_b,
           round(CAST(sum(dev6) AS DOUBLE) * sum(dev6) / 1e6
             / nullif(CAST(sum(v6) AS DOUBLE), 0.0), 6) AS chi2
         FROM q GROUP BY 1, 2""",
    "st_herfindahl" ->
      """WITH per AS (SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cc
           FROM orders GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(cc AS HUGEINT)) AS VARCHAR) AS DOUBLE)
               AS s,
             CAST(CAST(sum(CAST(cc AS HUGEINT) * cc) AS VARCHAR) AS DOUBLE)
               AS s2
           FROM per)
         SELECT n AS n_customers,
           round(s2 / (s * s), 6) AS hhi,
           round((s2 / (s * s) - 1.0 / CAST(n AS DOUBLE))
             / nullif(1.0 - 1.0 / CAST(n AS DOUBLE), 0.0), 6)
             AS hhi_norm,
           round(1.0 / (s2 / (s * s)), 4) AS effective_n
         FROM m""",
    "st_smd" ->
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c1,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS c2,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
               END) AS BIGINT) AS c3
           FROM events GROUP BY 1),
         a AS (SELECT
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
               < '8' THEN 'A' ELSE 'B' END AS arm, c1, c2, c3
           FROM u),
         w AS (SELECT
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS nb,
             sum(CASE WHEN arm = 'A' THEN CAST(c1 AS HUGEINT) END)
               AS s_c1_a,
             sum(CASE WHEN arm = 'A' THEN CAST(c1 AS HUGEINT) * c1 END)
               AS q_c1_a,
             sum(CASE WHEN arm = 'B' THEN CAST(c1 AS HUGEINT) END)
               AS s_c1_b,
             sum(CASE WHEN arm = 'B' THEN CAST(c1 AS HUGEINT) * c1 END)
               AS q_c1_b,
             sum(CASE WHEN arm = 'A' THEN CAST(c2 AS HUGEINT) END)
               AS s_c2_a,
             sum(CASE WHEN arm = 'A' THEN CAST(c2 AS HUGEINT) * c2 END)
               AS q_c2_a,
             sum(CASE WHEN arm = 'B' THEN CAST(c2 AS HUGEINT) END)
               AS s_c2_b,
             sum(CASE WHEN arm = 'B' THEN CAST(c2 AS HUGEINT) * c2 END)
               AS q_c2_b,
             sum(CASE WHEN arm = 'A' THEN CAST(c3 AS HUGEINT) END)
               AS s_c3_a,
             sum(CASE WHEN arm = 'A' THEN CAST(c3 AS HUGEINT) * c3 END)
               AS q_c3_a,
             sum(CASE WHEN arm = 'B' THEN CAST(c3 AS HUGEINT) END)
               AS s_c3_b,
             sum(CASE WHEN arm = 'B' THEN CAST(c3 AS HUGEINT) * c3 END)
               AS q_c3_b
           FROM a)
         SELECT 'n_events' AS covariate,
           round(CAST(s_c1_a AS DOUBLE) / na, 6) AS mean_a,
           round(CAST(s_c1_b AS DOUBLE) / nb, 6) AS mean_b,
           round((CAST(s_c1_b AS DOUBLE) / nb
               - CAST(s_c1_a AS DOUBLE) / na)
             / nullif(sqrt(((CAST(na AS DOUBLE) * CAST(q_c1_a AS DOUBLE)
                 - CAST(s_c1_a AS DOUBLE) * CAST(s_c1_a AS DOUBLE))
                 / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))
               + (CAST(nb AS DOUBLE) * CAST(q_c1_b AS DOUBLE)
                 - CAST(s_c1_b AS DOUBLE) * CAST(s_c1_b AS DOUBLE))
                 / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)))
               / 2.0), 0.0), 6) AS smd
         FROM w
         UNION ALL
         SELECT 'spend_cents' AS covariate,
           round(CAST(s_c2_a AS DOUBLE) / na, 6) AS mean_a,
           round(CAST(s_c2_b AS DOUBLE) / nb, 6) AS mean_b,
           round((CAST(s_c2_b AS DOUBLE) / nb
               - CAST(s_c2_a AS DOUBLE) / na)
             / nullif(sqrt(((CAST(na AS DOUBLE) * CAST(q_c2_a AS DOUBLE)
                 - CAST(s_c2_a AS DOUBLE) * CAST(s_c2_a AS DOUBLE))
                 / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))
               + (CAST(nb AS DOUBLE) * CAST(q_c2_b AS DOUBLE)
                 - CAST(s_c2_b AS DOUBLE) * CAST(s_c2_b AS DOUBLE))
                 / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)))
               / 2.0), 0.0), 6) AS smd
         FROM w
         UNION ALL
         SELECT 'converted' AS covariate,
           round(CAST(s_c3_a AS DOUBLE) / na, 6) AS mean_a,
           round(CAST(s_c3_b AS DOUBLE) / nb, 6) AS mean_b,
           round((CAST(s_c3_b AS DOUBLE) / nb
               - CAST(s_c3_a AS DOUBLE) / na)
             / nullif(sqrt(((CAST(na AS DOUBLE) * CAST(q_c3_a AS DOUBLE)
                 - CAST(s_c3_a AS DOUBLE) * CAST(s_c3_a AS DOUBLE))
                 / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))
               + (CAST(nb AS DOUBLE) * CAST(q_c3_b AS DOUBLE)
                 - CAST(s_c3_b AS DOUBLE) * CAST(s_c3_b AS DOUBLE))
                 / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)))
               / 2.0), 0.0), 6) AS smd
         FROM w""",
    "ts_intermittency" ->
      """WITH daily AS (SELECT l_partkey AS pk,
             CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS q
           FROM lineitem GROUP BY 1, 2),
         per AS (SELECT pk, CAST(count(*) AS BIGINT) AS nd,
             CAST(max(day) - min(day) AS BIGINT) AS span,
             sum(CAST(q AS HUGEINT)) AS sq,
             sum(CAST(q AS HUGEINT) * q) AS sqq
           FROM daily GROUP BY 1),
         cls AS (SELECT CASE WHEN nd < 2 THEN 'single'
             WHEN CAST(span AS DOUBLE) / (CAST(nd AS DOUBLE) - 1.0)
                 < 1.32
               AND (CAST(nd AS DOUBLE) * CAST(sqq AS DOUBLE)
                 - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                 / (CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) < 0.49
               THEN 'smooth'
             WHEN CAST(span AS DOUBLE) / (CAST(nd AS DOUBLE) - 1.0)
                 >= 1.32
               AND (CAST(nd AS DOUBLE) * CAST(sqq AS DOUBLE)
                 - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                 / (CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) < 0.49
               THEN 'intermittent'
             WHEN CAST(span AS DOUBLE) / (CAST(nd AS DOUBLE) - 1.0)
                 < 1.32
               THEN 'erratic'
             ELSE 'lumpy' END AS demand_class
           FROM per)
         SELECT demand_class, CAST(count(*) AS BIGINT) AS n_parts
         FROM cls GROUP BY 1""",
    "ml_qini" ->
      """WITH u AS (SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
               END) AS BIGINT) AS conv,
             CAST(coalesce(sum(CASE WHEN event_type IN ('click', 'view')
               THEN CAST(round(value * 100) AS BIGINT) END), 0)
               AS BIGINT) AS score
           FROM events GROUP BY 1),
         a AS (SELECT
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
               < '8' THEN 'A' ELSE 'B' END AS arm,
             conv, score, user_id
           FROM u),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM a),
         dd AS (SELECT arm, conv,
             CAST(1 + (row_number() OVER (ORDER BY score DESC, user_id)
               - 1) * 10 // nu AS BIGINT) AS decile
           FROM a CROSS JOIN tt),
         cells AS (SELECT decile,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_t,
             CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END)
               AS BIGINT) AS conv_t,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_c,
             CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END)
               AS BIGINT) AS conv_c
           FROM dd GROUP BY 1)
         -- + 0.0 normalizes IEEE negative zero: DuckDB round() keeps
         -- the sign of a tiny-negative cancellation (-1e-15 → -0.0)
         -- while Spark's BigDecimal round never emits -0.0 — the qini
         -- curve's forced-zero endpoint hit this on the r12
         -- second-seed gate (parquet serializes -0.0 ≠ 0.0)
         SELECT decile, n_t, n_c, conv_t, conv_c,
           round(CAST(conv_t AS DOUBLE)
               / nullif(CAST(n_t AS DOUBLE), 0.0)
             - CAST(conv_c AS DOUBLE)
               / nullif(CAST(n_c AS DOUBLE), 0.0), 6) + 0.0 AS uplift,
           round(CAST(sum(conv_t) OVER wc AS DOUBLE)
             - CAST(sum(conv_c) OVER wc AS DOUBLE)
               * (CAST(sum(n_t) OVER wc AS DOUBLE)
                 / nullif(CAST(sum(n_c) OVER wc AS DOUBLE), 0.0)), 6)
             + 0.0 AS qini
         FROM cells
         WINDOW wc AS (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "dwh_allocation" ->
      """WITH lines AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS w
           FROM lineitem),
         heads AS (SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS h
           FROM orders),
         wt AS (SELECT ok, CAST(sum(w) AS BIGINT) AS ww
           FROM lines GROUP BY 1),
         j AS (SELECT l.ok, ln, w, h, ww,
             (h * w) // ww AS base, (h * w) % ww AS r
           FROM lines l JOIN heads USING (ok) JOIN wt USING (ok)),
         a AS (SELECT ok, h, base, r,
             h - sum(base) OVER (PARTITION BY ok) AS leftover,
             row_number() OVER (PARTITION BY ok ORDER BY r DESC, ln)
               AS rk
           FROM j),
         al AS (SELECT ok, h,
             base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
           FROM a),
         po AS (SELECT ok, max(h) AS h,
             CAST(sum(alloc) AS HUGEINT) AS al,
             CAST(count(*) AS BIGINT) AS nl
           FROM al GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(nl) AS BIGINT) AS n_lines,
           round(CAST(sum(CAST(h AS HUGEINT)) AS DOUBLE) / 100.0, 2)
             AS header_total,
           round(CAST(sum(al) AS DOUBLE) / 100.0, 2)
             AS allocated_total,
           CAST(sum(CASE WHEN al <> h THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatched
         FROM po""",
    "tx_heaps" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n
           FROM documents),
         tokfirst AS (SELECT g, min(doc_id) AS fdoc FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS g
            FROM documents) GROUP BY 1),
         vnew AS (SELECT least(9, (fdoc * 10) // n) AS d,
             CAST(count(*) AS BIGINT) AS v_new
           FROM tokfirst CROSS JOIN nd GROUP BY 1),
         tnew AS (SELECT least(9, (doc_id * 10) // n) AS d,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS t_new
           FROM documents CROSS JOIN nd GROUP BY 1),
         pts AS (SELECT d,
             sum(coalesce(v_new, 0)) OVER wd AS v,
             sum(t_new) OVER wd AS nn
           FROM tnew LEFT JOIN vnew USING (d)
           WINDOW wd AS (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         q AS (SELECT
             CAST(round(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS ly,
             CAST(round(ln(CAST(nn AS DOUBLE)) * 1e6) AS BIGINT) AS lx
           FROM pts),
         s AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(ly * ly) AS BIGINT) AS syy
           FROM q)
         SELECT k AS n_points,
           round((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / nullif(CAST(k AS DOUBLE) * sxx
               - CAST(sx AS DOUBLE) * sx, 0.0), 6) AS beta,
           round((CAST(sy AS DOUBLE)
               - (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(CAST(k AS DOUBLE) * sxx
                   - CAST(sx AS DOUBLE) * sx, 0.0)
                 * sx) / k / 1e6, 6) AS ln_k,
           round(((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / nullif(sqrt((CAST(k AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * sx)
                 * (CAST(k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 0.0))
             * ((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / nullif(sqrt((CAST(k AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * sx)
                 * (CAST(k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 0.0)),
             6) AS r2
         FROM s""",
    "tx_fertility" ->
      """WITH d AS (SELECT lang,
             CAST(round(CAST(len(regexp_extract_all(text,
                 '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS DOUBLE)
               / nullif(CAST(len(string_split(text, ' ')) AS DOUBLE),
                 0.0) * 1e6) AS BIGINT) AS f6
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(f6) AS DOUBLE) / (count(*) * 1e6), 6)
             AS fertility
         FROM d WHERE f6 IS NOT NULL GROUP BY 1""",
    "tx_distinct_n" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS t
           FROM documents),
         g1 AS (SELECT unnest(t) AS g FROM tok),
         i2 AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
           FROM tok WHERE len(t) >= 2),
         g2 AS (SELECT t[i] || ' ' || t[i + 1] AS g FROM i2),
         i3 AS (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
           FROM tok WHERE len(t) >= 3),
         g3 AS (SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
           FROM i3)
         SELECT CAST(1 AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS total,
           CAST(count(DISTINCT g) AS BIGINT) AS distinct_types,
           round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
             AS distinct_ratio
         FROM g1
         UNION ALL
         SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT g) AS BIGINT),
           round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
         FROM g2
         UNION ALL
         SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT g) AS BIGINT),
           round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
         FROM g3""",
    "dd_histogram" ->
      """WITH sizes AS (SELECT
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
               AS fp,
             CAST(count(*) AS BIGINT) AS k
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
           FROM documents)
         SELECT k AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           k * CAST(count(*) AS BIGINT) AS n_docs_in,
           round(CAST(k * count(*) AS DOUBLE) / n_docs, 6) AS doc_share
         FROM sizes CROSS JOIN tot GROUP BY k, n_docs""",
    "tx_dispersion" ->
      """WITH tok AS (SELECT source,
             unnest(string_split(text, ' ')) AS t
           FROM documents),
         bysrc AS (SELECT t, source, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
         bytok AS (SELECT t, CAST(sum(c) AS BIGINT) AS ct
           FROM bysrc GROUP BY 1),
         srct AS (SELECT source, CAST(count(*) AS BIGINT) AS cs
           FROM tok GROUP BY 1),
         grand AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         top AS (SELECT t, ct FROM bytok ORDER BY ct DESC, t LIMIT 10),
         grid AS (SELECT top.t, top.ct, srct.source, srct.cs,
             coalesce(bysrc.c, 0) AS c
           FROM top CROSS JOIN srct
           LEFT JOIN bysrc ON bysrc.t = top.t
             AND bysrc.source = srct.source),
         q AS (SELECT t, ct,
             CAST(floor(abs(CAST(c AS DOUBLE) / ct
               - CAST(cs AS DOUBLE) / n) * 1e9 + 0.5) AS BIGINT) AS d9
           FROM grid CROSS JOIN grand)
         SELECT t AS token, ct AS n_occurrences,
           round(CAST(sum(d9) AS DOUBLE) / 2e9, 6) AS dp
         FROM q GROUP BY 1, 2""",
    "dwh_restatement" ->
      """WITH q AS (SELECT user_id, event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         ww AS (SELECT event_type AS state, sum(CAST(c AS HUGEINT))
             AS ww FROM q GROUP BY 1),
         cur AS (SELECT user_id, event_type AS state FROM (
             SELECT user_id, event_type, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn
             FROM q) WHERE rn = 1),
         ii AS (SELECT cur.state, sum(CAST(c AS HUGEINT)) AS ii
           FROM q JOIN cur USING (user_id) GROUP BY 1),
         m AS (SELECT coalesce(ww.state, ii.state) AS state,
             coalesce(ww, 0) AS ww, coalesce(ii, 0) AS ii
           FROM ww FULL JOIN ii ON ww.state = ii.state)
         SELECT state,
           round(CAST(ww AS DOUBLE) / 100.0, 2) AS as_was_revenue,
           round(CAST(ii AS DOUBLE) / 100.0, 2) AS as_is_revenue,
           round(CAST(ii - ww AS DOUBLE) / 100.0, 2) AS restated_delta
         FROM m""",
    "dq_fingerprint" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(CAST(concat('0x', substr(md5(rs), 1, 15))
               AS BIGINT) AS HUGEINT)) % 1000000000000000000 AS BIGINT)
             AS fingerprint
         FROM (SELECT concat_ws('|', o_orderkey, o_custkey,
             o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT),
             CAST(o_orderdate AS VARCHAR), o_orderpriority) AS rs
           FROM orders)""",
    "st_lorenz" ->
      """WITH pts AS (SELECT CAST(floor(o_totalprice * 100 + 0.5)
             AS BIGINT) AS c, o_orderkey
           FROM orders),
         n0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS HUGEINT) AS tot FROM pts),
         cells AS (SELECT
             (CAST(row_number() OVER (ORDER BY c, o_orderkey)
               AS BIGINT) - 1) * 10 // n AS decile,
             c, tot
           FROM pts CROSS JOIN n0),
         g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(c) AS HUGEINT) AS sc, max(tot) AS tot
           FROM cells GROUP BY 1)
         SELECT decile, n_orders,
           round(CAST(sc AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             AS value_share,
           round(CAST(sum(sc) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_value_share
         FROM g ORDER BY decile""",
    "w30_twap" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
           FROM events),
         h AS (SELECT event_type, c,
             lead(us) OVER (PARTITION BY event_type
               ORDER BY us, event_id) - us AS hold
           FROM e)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
           round(CAST(sum(CAST(c AS HUGEINT) * hold) AS DOUBLE)
             / CAST(sum(CAST(hold AS HUGEINT)) AS DOUBLE) / 100.0, 6)
             AS twap,
           round(CAST(sum(c) AS DOUBLE) / count(*) / 100.0, 6)
             AS plain_mean
         FROM h WHERE hold IS NOT NULL GROUP BY 1""",
    "ts_croston" ->
      """WITH RECURSIVE daily AS (SELECT
             CAST(epoch(CAST(ts AS DATE)) // 86400 AS BIGINT) AS d,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS s
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         arr AS (SELECT
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             d, s / 100.0 AS sv,
             d - lag(d) OVER (ORDER BY d) AS g
           FROM daily),
         rec(rn, d, sv, z, p) AS (
           SELECT rn, d, sv, sv, 1.0 FROM arr WHERE rn = 1
           UNION ALL
           SELECT a.rn, a.d, a.sv,
             r.z + 0.2 * (a.sv - r.z),
             r.p + 0.2 * (a.g - r.p)
           FROM rec r JOIN arr a ON a.rn = r.rn + 1)
         SELECT d AS day, sv AS demand,
           floor(z * 1e6 + 0.5) / 1e6 AS z,
           floor(p * 1e6 + 0.5) / 1e6 AS p,
           floor(z / p * 1e6 + 0.5) / 1e6 AS forecast
         FROM rec""",
    "st_newey_west" ->
      """WITH dx AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST(CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               * 20000 + count(*)) // (2 * count(*)) AS BIGINT)
               AS DOUBLE) / 1e6 AS x
           FROM events WHERE event_type = 'click' GROUP BY 1),
         dy AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST(CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               * 20000 + count(*)) // (2 * count(*)) AS BIGINT)
               AS DOUBLE) / 1e6 AS y
           FROM events WHERE event_type = 'view' GROUP BY 1),
         xy AS (SELECT d, x, y FROM dx JOIN dy USING (d)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             (sum(x * y) - sum(x) * sum(y) / count(*))
               / (sum(x * x) - sum(x) * sum(x) / count(*)) AS b,
             (sum(y) - (sum(x * y) - sum(x) * sum(y) / count(*))
               / (sum(x * x) - sum(x) * sum(x) / count(*)) * sum(x))
               / count(*) AS a,
             (sum(x * x) - sum(x) * sum(x) / count(*)) AS sxxc,
             sum(x) / count(*) AS xbar
           FROM xy),
         scored AS (SELECT
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(floor((x - xbar) * (y - a - b * x) * 1e3 + 0.5)
               AS BIGINT) AS vq
           FROM xy CROSS JOIN m),
         lags AS (SELECT CAST(l AS BIGINT) AS l FROM (VALUES (0), (1),
             (2), (3), (4), (5)) ll(l)),
         gam AS (SELECT l,
             CAST(sum(CAST(a.vq AS HUGEINT) * b.vq) AS HUGEINT) AS g
           FROM lags JOIN scored a ON true
           JOIN scored b ON b.rn = a.rn + l
           GROUP BY 1),
         s_ AS (SELECT sum(CASE WHEN l = 0 THEN CAST(g AS DOUBLE) / 1e6
             ELSE 2.0 * (1.0 - l / 6.0) * CAST(g AS DOUBLE) / 1e6 END)
             AS s_hac
           FROM gam)
         SELECT n, round(b, 6) AS slope,
           round(sqrt(s_hac) / sxxc, 6) AS se_hac
         FROM m CROSS JOIN s_""",
    "dq_pk_discovery" -> {
      val names = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderpriority")
      val combos: Seq[Seq[String]] =
        names.map(Seq(_)) ++
          (for { i <- names.indices; j <- i + 1 until names.size }
            yield Seq(names(i), names(j)))
      val rows = combos.map { cs =>
        val key = cs.mkString("+")
        val tup = cs.map(c => s"CAST($c AS VARCHAR)").mkString(" || '|' || ")
        s"""SELECT '$key' AS columns,
             CAST(count(DISTINCT $tup) AS BIGINT) AS ndv,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(count(DISTINCT $tup) / CAST(count(*) AS DOUBLE), 6)
               AS ratio,
             count(DISTINCT $tup) = count(*) AS is_key
           FROM orders"""
      }
      rows.mkString("\n         UNION ALL\n         ")
    },
    "sp_lisa" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         cells AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER)
               AS cell_lat,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cell_lon,
             CAST(count(*) AS BIGINT) AS x
           FROM p GROUP BY 1, 2),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx FROM cells),
         hood AS (SELECT c.cell_lat + o.a AS t_lat,
             c.cell_lon + o.b AS t_lon,
             CAST(count(*) AS BIGINT) AS w9,
             CAST(sum(c.x) AS BIGINT) AS s9
           FROM cells c CROSS JOIN (SELECT a, b
             FROM (VALUES (-1), (0), (1)) la(a),
                  (VALUES (-1), (0), (1)) lb(b)) o
           GROUP BY 1, 2)
         SELECT c.cell_lat, c.cell_lon, c.x AS n_points,
           w9 - 1 AS w_neighbors,
           round(CAST((CAST(n AS HUGEINT) * c.x - sx)
               * (CAST(n AS HUGEINT) * (s9 - c.x) - (w9 - 1) * sx)
               AS DOUBLE)
             / CAST(CAST(n AS HUGEINT)
               * (CAST(n AS HUGEINT) * sxx
                 - CAST(sx AS HUGEINT) * sx) AS DOUBLE), 6) AS local_i,
           (CASE WHEN CAST(n AS HUGEINT) * c.x - sx > 0
             THEN 'H' ELSE 'L' END) ||
           (CASE WHEN CAST(n AS HUGEINT) * (s9 - c.x)
               - (w9 - 1) * sx > 0
             THEN 'H' ELSE 'L' END) AS quadrant
         FROM cells c
         JOIN hood ON c.cell_lat = t_lat AND c.cell_lon = t_lon
         CROSS JOIN g""",
    "ts_ami" ->
      """WITH hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         n0_ AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM hourly),
         binned AS (SELECT hr,
             (CAST(row_number() OVER (ORDER BY v, hr) AS BIGINT) - 1)
               * 4 // n0 AS b
           FROM hourly CROSS JOIN n0_),
         lags AS (SELECT CAST(lag AS BIGINT) AS lag FROM (VALUES (1),
             (2), (3), (4), (6), (12)) l(lag)),
         lagged AS (SELECT lags.lag, a.b AS b0, c.b AS b1
           FROM binned a CROSS JOIN lags
           JOIN binned c ON c.hr = a.hr + lags.lag),
         cells AS (SELECT lag, b0, b1, CAST(count(*) AS BIGINT) AS c
           FROM lagged GROUP BY 1, 2, 3),
         tot AS (SELECT lag, CAST(sum(c) AS BIGINT) AS np
           FROM cells GROUP BY 1),
         m0 AS (SELECT lag, b0, CAST(sum(c) AS BIGINT) AS c0
           FROM cells GROUP BY 1, 2),
         m1 AS (SELECT lag, b1, CAST(sum(c) AS BIGINT) AS c1
           FROM cells GROUP BY 1, 2),
         terms AS (SELECT cells.lag, np,
             CAST(floor(c * ln(CAST(c AS DOUBLE) * np
               / (CAST(c0 AS DOUBLE) * c1)) * 1e6 + 0.5) AS BIGINT)
               AS t
           FROM cells JOIN m0 USING (lag, b0) JOIN m1 USING (lag, b1)
             JOIN tot USING (lag))
         SELECT lag, max(np) AS n_pairs,
           round(CAST(sum(t) AS DOUBLE) / 1e6
             / CAST(max(np) AS DOUBLE), 6) AS ami
         FROM terms GROUP BY 1 ORDER BY 1""",
    "q41_variant" ->
      // TRY_CAST, not CAST: Spark's variant_get(..., 'long') returns
      // null on an uncastable value (e.g. k = '5.5'); a plain DuckDB
      // CAST would instead ERROR, so the twins would diverge on any
      // non-integer k. The generator emits integer k only, but the
      // null semantics now match by construction, not by data luck.
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k')
             AS BIGINT)) AS BIGINT) AS sum_k,
           min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS min_k,
           max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS max_k,
           round(avg(TRY_CAST(json_extract_string(props, '$.k')
             AS BIGINT)), 6) AS avg_k
         FROM events GROUP BY event_type""",
    "st_pot_tail" ->
      """WITH pts AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT)
             AS c, event_id
           FROM events WHERE event_type = 'click'),
         thr AS (SELECT quantile_cont(c, 0.95) AS u FROM pts),
         exc AS (SELECT c, event_id, u,
             CAST(row_number() OVER (ORDER BY c, event_id) AS BIGINT)
               AS r
           FROM pts CROSS JOIN thr WHERE c > u),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum((r - 1) * c) AS BIGINT) AS src_,
             max(u) AS u FROM exc),
         b AS (SELECT n, u,
             (sc - n * u) / n / 100.0 AS b0,
             (src_ - u * n * (n - 1.0) / 2.0) / (n - 1.0) / n / 100.0
               AS b1
           FROM agg)
         SELECT round(u / 100.0, 6) AS threshold, n AS n_exceed,
           round(2.0 - b0 / (b0 - 2.0 * b1), 6) AS xi,
           round(2.0 * b0 * b1 / (b0 - 2.0 * b1), 6) AS sigma
         FROM b""",
    "st_interarrival" ->
      """WITH pur AS (SELECT epoch_us(ts) AS us, event_id FROM events
           WHERE event_type = 'purchase'),
         gp AS (SELECT us - lag(us) OVER (ORDER BY us, event_id) AS g,
             event_id
           FROM pur),
         gaps AS (SELECT CAST(g AS BIGINT) AS g, event_id FROM gp
           WHERE g IS NOT NULL),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS sg FROM gaps),
         rk AS (SELECT g, n, sg,
             CAST(row_number() OVER (ORDER BY g, event_id) AS BIGINT)
               AS r,
             1.0 - exp(g * (-1.0 * n / sg)) AS f
           FROM gaps CROSS JOIN tt)
         SELECT max(n) AS n_gaps,
           round(CAST(max(n) AS DOUBLE)
             / (CAST(max(sg) AS DOUBLE) / 1e6), 6) AS lambda,
           round(greatest(
             max(r / CAST(n AS DOUBLE) - f),
             max(f - (r - 1) / CAST(n AS DOUBLE))), 6) AS ks_d
         FROM rk""",
    // r14: round-unrolled hook+jump CC rendered in OracleSql — the old
    // recursive reach closure was O(n²) pairs in the giant component
    // (~40 min alone at sf0.05, the second-seed gate's long pole)
    "gr_percolation" -> OracleSql.grPercolation,
    "st_xi" ->
      """WITH dx AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS x
           FROM events WHERE event_type = 'click' GROUP BY 1),
         dy AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS y
           FROM events WHERE event_type = 'view' GROUP BY 1),
         xy AS (SELECT d, x, y FROM dx JOIN dy USING (d)),
         rk AS (SELECT
             CAST(row_number() OVER (ORDER BY x, d) AS BIGINT) AS rx,
             CAST(row_number() OVER (ORDER BY y, d) AS BIGINT) AS ry
           FROM xy),
         sx AS (SELECT CAST(sum(abs(nxt - ry)) AS BIGINT) AS sdx
           FROM (SELECT ry, lead(ry) OVER (ORDER BY rx) AS nxt FROM rk)
           WHERE nxt IS NOT NULL),
         sy AS (SELECT CAST(sum(abs(nxt - rx)) AS BIGINT) AS sdy
           FROM (SELECT rx, lead(rx) OVER (ORDER BY ry) AS nxt FROM rk)
           WHERE nxt IS NOT NULL),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xy)
         SELECT n,
           round(1.0 - 3.0 * sdx / (CAST(n AS DOUBLE) * n - 1.0), 6)
             AS xi_y_given_x,
           round(1.0 - 3.0 * sdy / (CAST(n AS DOUBLE) * n - 1.0), 6)
             AS xi_x_given_y
         FROM sx CROSS JOIN sy CROSS JOIN t""",
    "st_mmd" ->
      """WITH dx AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST(CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               * 20000 + count(*)) // (2 * count(*)) AS BIGINT)
               AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         dy AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST(CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               * 20000 + count(*)) // (2 * count(*)) AS BIGINT)
               AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'view' GROUP BY 1),
         kxx AS (SELECT CAST(sum(CAST(floor(
               exp((a.v - b.v) * (a.v - b.v) / -5000.0) * 1e6 + 0.5)
               AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
           FROM dx a CROSS JOIN dx b),
         kyy AS (SELECT CAST(sum(CAST(floor(
               exp((a.v - b.v) * (a.v - b.v) / -5000.0) * 1e6 + 0.5)
               AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
           FROM dy a CROSS JOIN dy b),
         kxy AS (SELECT CAST(sum(CAST(floor(
               exp((a.v - b.v) * (a.v - b.v) / -5000.0) * 1e6 + 0.5)
               AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS c
           FROM dx a CROSS JOIN dy b)
         SELECT kxx.c AS n_pairs_xx,
           round(CAST(kxx.s AS DOUBLE) / kxx.c / 1e6
             + CAST(kyy.s AS DOUBLE) / kyy.c / 1e6
             - 2.0 * (CAST(kxy.s AS DOUBLE) / kxy.c / 1e6), 6) AS mmd2
         FROM kxx CROSS JOIN kyy CROSS JOIN kxy""",
    "mm_decimate" ->
      """WITH a AS (SELECT doc_id, text, length(text) AS len
           FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0),
         smp AS (SELECT doc_id, u.i,
             (ascii(substr(text, CAST(u.i AS INT), 1)) - 128) * 256 AS s
           FROM a, LATERAL unnest(generate_series(1, a.len)) u(i)),
         grp AS (SELECT doc_id, (i - 1) // 4 AS g,
             sum(s) / CAST(count(*) AS DOUBLE) AS m
           FROM smp GROUP BY 1, 2),
         rin AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_in,
             sqrt(sum((s / 32768.0) * (s / 32768.0)) / count(*))
               AS rms_in
           FROM smp GROUP BY 1),
         rout AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_out,
             sqrt(sum((m / 32768.0) * (m / 32768.0)) / count(*))
               AS rms_out
           FROM grp GROUP BY 1)
         SELECT rin.doc_id AS media_id, n_in, n_out,
           round(rms_out, 4) AS rms_out,
           round(rms_out / rms_in, 4) AS energy_ratio
         FROM rin JOIN rout ON rin.doc_id = rout.doc_id""",
    "st_copula" ->
      """WITH dx AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS x
           FROM events WHERE event_type = 'click' GROUP BY 1),
         dy AS (SELECT CAST(epoch(CAST(ts AS DATE)) // 86400
               AS BIGINT) AS d,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS y
           FROM events WHERE event_type = 'view' GROUP BY 1),
         xy AS (SELECT d, x, y FROM dx JOIN dy USING (d)),
         rk AS (SELECT
             CAST(row_number() OVER (ORDER BY x, d) AS BIGINT) AS rx,
             CAST(row_number() OVER (ORDER BY y, d) AS BIGINT) AS ry
           FROM xy),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xy)
         SELECT (rx - 1) * 4 // n AS qx, (ry - 1) * 4 // n AS qy,
           CAST(count(*) AS BIGINT) AS n_days,
           round(count(*) * 16 / CAST(max(n) AS DOUBLE), 6) AS lift
         FROM rk CROSS JOIN t GROUP BY 1, 2""",
    "pipe_decon_embed" ->
      """WITH vv AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))
               AS q
           FROM embeddings),
         v AS (SELECT vec_id, q,
             list_aggregate(list_transform(q, y -> y*y), 'sum') AS ssq
           FROM vv),
         p AS (SELECT vec_id AS probe_id, q AS pq, ssq AS pssq
           FROM v WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id, q, ssq FROM v WHERE vec_id % 50 <> 0),
         d AS (SELECT probe_id, vec_id,
             round(CAST(list_aggregate(list_transform(list_zip(pq, q),
               s -> s[1] * s[2]), 'sum') AS DOUBLE)
               / (sqrt(pssq) * sqrt(ssq)), 4) AS cos
           FROM p CROSS JOIN c),
         mx AS (SELECT probe_id, max(cos) AS max_cos,
             CAST(sum(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_flagged
           FROM d GROUP BY 1)
         SELECT m.probe_id, m.max_cos,
           min(d.vec_id) AS nearest_id, m.n_flagged
         FROM mx m JOIN d ON d.probe_id = m.probe_id
           AND d.cos = m.max_cos
         GROUP BY 1, 2, 4""",
    "gr_scc" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey, l_linenumber,
             CAST(l_suppkey AS BIGINT) AS sk,
             lead(CAST(l_suppkey AS BIGINT)) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber) AS nxt
           FROM lineitem),
         edges AS (SELECT DISTINCT sk AS src, nxt AS dst FROM li
           WHERE nxt IS NOT NULL AND nxt <> sk),
         nodes AS (SELECT src AS node FROM edges
           UNION SELECT dst FROM edges),
         reach(a, b) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         mutual AS (SELECT r1.a AS u, r1.b AS v FROM reach r1
           JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
         scc AS (SELECT n.node,
             least(n.node, coalesce(min(m.v), n.node)) AS scc_id
           FROM nodes n LEFT JOIN mutual m ON m.u = n.node
           GROUP BY n.node)
         SELECT scc_id, CAST(count(*) AS BIGINT) AS n_nodes
         FROM scc GROUP BY 1""",
    "st_f_test" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS HUGEINT) AS s1,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
               * CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 AS HUGEINT)) AS s2
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         v AS (SELECT event_type, n,
             CAST(n * s2 - s1 * s1 AS DOUBLE) / 1e4
               / (CAST(n AS DOUBLE) * (n - 1)) AS s2v
           FROM g)
         SELECT a.n AS n_a, b.n AS n_b,
           a.n - 1 AS df_a, b.n - 1 AS df_b,
           round(a.s2v, 6) AS var_a, round(b.s2v, 6) AS var_b,
           round(a.s2v / b.s2v, 6) AS f_stat
         FROM (SELECT * FROM v WHERE event_type = 'click') a
         CROSS JOIN (SELECT * FROM v WHERE event_type = 'view') b""",
    "st_chisq_gof" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS o
           FROM events GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(o) AS BIGINT) AS n,
             sum(CAST(o AS HUGEINT) * o) AS oo FROM g)
         SELECT k, n, k - 1 AS df,
           round(CAST(k * oo - CAST(n AS HUGEINT) * n AS DOUBLE)
             / CAST(n AS DOUBLE), 6) AS chi2
         FROM t""",
    "st_beta_binomial" ->
      """WITH g AS (SELECT event_type AS arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 95.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM events GROUP BY 1)
         SELECT arm, n, k,
           round((k + 1.0) / (n + 2), 6) AS post_mean,
           round(CAST(k AS DOUBLE) / n, 6) AS post_map,
           round((k + 1.0) * (n - k + 1.0)
             / (CAST(n + 2 AS DOUBLE) * (n + 2) * (n + 3)), 6)
             AS post_var,
           round(greatest(0.0, (k + 1.0) / (n + 2)
             - 1.96 * sqrt((k + 1.0) * (n - k + 1.0)
               / (CAST(n + 2 AS DOUBLE) * (n + 2) * (n + 3)))), 6)
             AS ci_lo,
           round(least(1.0, (k + 1.0) / (n + 2)
             + 1.96 * sqrt((k + 1.0) * (n - k + 1.0)
               / (CAST(n + 2 AS DOUBLE) * (n + 2) * (n + 3)))), 6)
             AS ci_hi
         FROM g""",
    "ts_hmm" ->
      """WITH RECURSIVE hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s FROM hourly),
         obs AS (SELECT
             CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS rn,
             hr, (v * n > s) AS o
           FROM hourly CROSS JOIN tt),
         fwd(rn, d0, d1, s0, s1) AS (
           SELECT rn,
             CAST(-693147 + CASE WHEN o THEN -1609438 ELSE -223144 END
               AS BIGINT),
             CAST(-693147 + CASE WHEN o THEN -223144 ELSE -1609438 END
               AS BIGINT),
             '0', '1'
           FROM obs WHERE rn = 1
           UNION ALL
           SELECT o.rn,
             CAST(CASE WHEN f.d0 - 105361 >= f.d1 - 2302585
                 THEN f.d0 - 105361 ELSE f.d1 - 2302585 END
               + CASE WHEN o.o THEN -1609438 ELSE -223144 END
               AS BIGINT),
             CAST(CASE WHEN f.d0 - 2302585 >= f.d1 - 105361
                 THEN f.d0 - 2302585 ELSE f.d1 - 105361 END
               + CASE WHEN o.o THEN -223144 ELSE -1609438 END
               AS BIGINT),
             (CASE WHEN f.d0 - 105361 >= f.d1 - 2302585
               THEN f.s0 ELSE f.s1 END) || '0',
             (CASE WHEN f.d0 - 2302585 >= f.d1 - 105361
               THEN f.s0 ELSE f.s1 END) || '1'
           FROM fwd f JOIN obs o ON o.rn = f.rn + 1),
         nmax AS (SELECT max(rn) AS m FROM obs),
         best AS (SELECT CASE WHEN f.d0 >= f.d1 THEN f.s0 ELSE f.s1 END
             AS path
           FROM fwd f JOIN nmax ON f.rn = nmax.m)
         SELECT o.hr, o.o AS obs_high,
           CAST(substr(b.path, CAST(o.rn AS INT), 1) AS INT) AS state
         FROM obs o CROSS JOIN best b""",
    "ts_transfer_entropy" ->
      """WITH hx AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS x
           FROM events WHERE event_type = 'click' GROUP BY 1),
         hy AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS y
           FROM events WHERE event_type = 'view' GROUP BY 1),
         xy AS (SELECT hr, x, y FROM hx JOIN hy USING (hr)),
         st AS (SELECT hr, x, y,
             lead(hr) OVER w AS hr1, lead(x) OVER w AS x1,
             lead(y) OVER w AS y1
           FROM xy WINDOW w AS (ORDER BY hr)),
         sp AS (SELECT * FROM st WHERE hr1 = hr + 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy FROM sp),
         b AS (SELECT n,
             CASE WHEN x * n > sx THEN 1 ELSE 0 END AS xb,
             CASE WHEN y * n > sy THEN 1 ELSE 0 END AS yb,
             CASE WHEN x1 * n > sx THEN 1 ELSE 0 END AS x1b,
             CASE WHEN y1 * n > sy THEN 1 ELSE 0 END AS y1b
           FROM sp CROSS JOIN tt),
         c1 AS (SELECT x1b AS a1, xb AS a0, yb AS d0,
             CAST(count(*) AS BIGINT) AS c, max(n) AS n
           FROM b GROUP BY 1, 2, 3),
         m1a AS (SELECT a0, sum(c) AS cx FROM c1 GROUP BY 1),
         m1b AS (SELECT a0, d0, sum(c) AS cxy FROM c1 GROUP BY 1, 2),
         m1c AS (SELECT a1, a0, sum(c) AS cxx1 FROM c1 GROUP BY 1, 2),
         t1 AS (SELECT n, CAST(floor(c * ln(CAST(c AS DOUBLE) * cx
               / (CAST(cxy AS DOUBLE) * cxx1)) * 1e6 + 0.5) AS BIGINT)
               AS t
           FROM c1 JOIN m1a USING (a0) JOIN m1b USING (a0, d0)
             JOIN m1c USING (a1, a0)),
         r1 AS (SELECT max(n) AS n_steps,
             round(CAST(sum(t) AS DOUBLE) / 1e6
               / CAST(max(n) AS DOUBLE), 6) AS te_y_to_x FROM t1),
         c2 AS (SELECT y1b AS a1, yb AS a0, xb AS d0,
             CAST(count(*) AS BIGINT) AS c, max(n) AS n
           FROM b GROUP BY 1, 2, 3),
         m2a AS (SELECT a0, sum(c) AS cx FROM c2 GROUP BY 1),
         m2b AS (SELECT a0, d0, sum(c) AS cxy FROM c2 GROUP BY 1, 2),
         m2c AS (SELECT a1, a0, sum(c) AS cxx1 FROM c2 GROUP BY 1, 2),
         t2 AS (SELECT n, CAST(floor(c * ln(CAST(c AS DOUBLE) * cx
               / (CAST(cxy AS DOUBLE) * cxx1)) * 1e6 + 0.5) AS BIGINT)
               AS t
           FROM c2 JOIN m2a USING (a0) JOIN m2b USING (a0, d0)
             JOIN m2c USING (a1, a0)),
         r2 AS (SELECT round(CAST(sum(t) AS DOUBLE) / 1e6
             / CAST(max(n) AS DOUBLE), 6) AS te_x_to_y FROM t2)
         SELECT n_steps, te_y_to_x, te_x_to_y
         FROM r1 CROSS JOIN r2""",
    "ts_lombscargle" ->
      """WITH daily AS (SELECT
             CAST(epoch(CAST(ts AS DATE)) // 86400 AS BIGINT) AS t,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         d2 AS (SELECT t, CAST(v AS DOUBLE) / 1e6 AS y FROM daily),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS ybar,
             sum(y * y) AS syy, sum(y) AS sy FROM d2),
         per AS (SELECT period, 2.0 * pi() / period AS w
           FROM (VALUES (3), (5), (7), (14), (30)) p(period)),
         tau AS (SELECT period, w,
             atan2(sum(sin(w * 2.0 * t)), sum(cos(w * 2.0 * t)))
               / (w * 2.0) AS tau
           FROM d2 CROSS JOIN per GROUP BY 1, 2),
         pw AS (SELECT period, max(n) AS n_days,
             sum(d * cos(th)) AS dc, sum(d * sin(th)) AS ds,
             sum(cos(th) * cos(th)) AS cc,
             sum(sin(th) * sin(th)) AS ss,
             max(syy - sy * sy / n) AS ssd
           FROM (SELECT period, n, syy, sy,
               w * (t - tau) AS th, y - ybar AS d
             FROM d2 CROSS JOIN tau CROSS JOIN tt)
           GROUP BY 1)
         SELECT period, n_days,
           round((dc * dc / cc + ds * ds / ss)
             / (2.0 * ssd / (n_days - 1)), 6) AS power
         FROM pw ORDER BY period""",
    "ts_dfa" ->
      """WITH hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s FROM hourly),
         prof AS (SELECT
             CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS rn, n,
             sum(v * n - s) OVER (ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nx
           FROM hourly CROSS JOIN tt),
         bx AS (SELECT m, (rn - 1) // m AS box, n,
             (rn - 1) % m + 1 AS x, CAST(nx AS HUGEINT) AS nx
           FROM prof CROSS JOIN (VALUES (4), (8), (16), (32)) mm(m)
           WHERE (rn - 1) // m < n // m),
         pb AS (SELECT m, box, n, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             sum(nx) AS su, sum(nx * nx) AS suu, sum(x * nx) AS sxu
           FROM bx GROUP BY 1, 2, 3),
         pd AS (SELECT m, box, c, sx, sxx,
             CAST(CAST(su AS VARCHAR) AS DOUBLE) / n AS sy,
             CAST(CAST(suu AS VARCHAR) AS DOUBLE) / (n * n) AS syy,
             CAST(CAST(sxu AS VARCHAR) AS DOUBLE) / n AS sxy FROM pb),
         sse AS (SELECT m, box,
             ((syy - sy * sy / c)
               - pow(sxy - sx * sy / c, 2) / (sxx - sx * sx / c)) AS sse,
             c FROM pd),
         fm AS (SELECT m, sqrt(list_reduce(list(sse / c ORDER BY box),
               (a, b) -> a + b) / count(*)) AS f
           FROM sse GROUP BY 1),
         fl AS (SELECT m, f, ln(CAST(m AS DOUBLE)) AS lx, ln(f) AS ly
           FROM fm),
         al AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(lx) AS sx,
             sum(ly) AS sy, sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
           FROM fl)
         SELECT m, round(f, 6) AS f_m,
           round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS alpha
         FROM fl CROSS JOIN al ORDER BY m""",
    "tx_boilerplate" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
           FROM documents),
         grams AS (SELECT DISTINCT doc_id, source, s FROM (
           SELECT doc_id, source,
             unnest(list_transform(range(1, len(t) - 3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                 || t[i+3] || ' ' || t[i+4])) AS s
           FROM toks WHERE len(t) >= 5)),
         srcd AS (SELECT source,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS src_docs
           FROM documents GROUP BY 1),
         hot AS (SELECT source, s FROM
             (SELECT source, s, CAST(count(*) AS BIGINT) AS df
              FROM grams GROUP BY 1, 2)
           JOIN srcd USING (source)
           WHERE src_docs >= 8 AND df > src_docs * 0.25),
         rep AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN h.s IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_boiler
           FROM grams g LEFT JOIN hot h
             ON g.source = h.source AND g.s = h.s
           GROUP BY 1)
         SELECT doc_id, n_grams, n_boiler,
           round(n_boiler / CAST(n_grams AS DOUBLE), 6) AS boiler_share
         FROM rep""",
    "dwh_scd4" ->
      """WITH v AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_type, ts, event_id FROM v
               WHERE prev IS NULL OR event_type <> prev),
         h AS (SELECT user_id, event_type, ts,
             lead(ts) OVER w AS vt
           FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         cur AS (SELECT user_id, event_type AS current_state
           FROM h WHERE vt IS NULL),
         agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions,
             CAST(epoch_us(min(ts)) AS BIGINT) AS first_seen_us,
             CAST(epoch_us(max(ts)) AS BIGINT) AS last_changed_us
           FROM s GROUP BY 1)
         SELECT user_id, current_state, n_versions, first_seen_us,
           last_changed_us
         FROM agg JOIN cur USING (user_id)""",
    "sp_hexbin" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         ax AS (SELECT
             (lon * (sqrt(3.0) / 3.0) - lat / 3.0) / 8.0 AS qf,
             lat * (2.0 / 3.0) / 8.0 AS rf
           FROM p),
         cu AS (SELECT qf, rf, -qf - rf AS sf,
             floor(qf + 0.5) AS qr, floor(rf + 0.5) AS rr,
             floor(-qf - rf + 0.5) AS sr
           FROM ax),
         dd AS (SELECT qr, rr, sr,
             abs(qr - qf) AS dq, abs(rr - rf) AS dr, abs(sr - sf) AS ds
           FROM cu),
         hx AS (SELECT
             CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - sr
               ELSE qr END AS BIGINT) AS hex_q,
             CAST(CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds
               THEN -qr - sr
               ELSE CASE WHEN dq > dr AND dq > ds THEN rr
                 ELSE CASE WHEN dr > ds THEN -qr - sr ELSE rr END END
               END AS BIGINT) AS hex_r
           FROM dd),
         cells AS (SELECT hex_q, hex_r, CAST(count(*) AS BIGINT)
             AS n_points FROM hx GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n_points) AS BIGINT) AS tot FROM cells)
         SELECT hex_q, hex_r, n_points,
           round(n_points / CAST(tot AS DOUBLE), 6) AS share
         FROM cells CROSS JOIN t
         ORDER BY n_points DESC, hex_q, hex_r LIMIT 15""",
    "sp_idw" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         cells AS (SELECT
             (CAST(floor((lat + 90) / 10) AS INTEGER) + 0.5) * 10 - 90.0
               AS g_lat,
             (CAST(floor((lon + 180) / 10) AS INTEGER) + 0.5) * 10 - 180.0
               AS g_lon,
             CAST(count(*) AS BIGINT) AS n_points
           FROM p GROUP BY 1, 2),
         probes AS (SELECT * FROM (VALUES
             (CAST(1 AS BIGINT), 10.0, 20.0),
             (CAST(2 AS BIGINT), -35.0, 140.0),
             (CAST(3 AS BIGINT), 48.0, -100.0),
             (CAST(4 AS BIGINT), 0.0, 0.0)) pr(probe_id, p_lat, p_lon)),
         dd AS (SELECT probe_id, n_points,
             2.0 * 6371.0 * asin(sqrt(
               pow(sin(radians(p_lat - g_lat) / 2), 2)
               + cos(radians(g_lat)) * cos(radians(p_lat))
                 * pow(sin(radians(p_lon - g_lon) / 2), 2))) AS d
           FROM cells CROSS JOIN probes)
         SELECT probe_id, CAST(count(*) AS BIGINT) AS n_cells,
           round(coalesce(
             max(CASE WHEN d < 1.0 THEN CAST(n_points AS DOUBLE) END),
             sum(n_points / (d * d)) / sum(1.0 / (d * d))), 6)
             AS idw_density
         FROM dd GROUP BY 1 ORDER BY 1""",
    "stream_inferred_member" ->
      """WITH dm AS (SELECT CAST(c_custkey AS BIGINT) AS dim_key,
             CASE WHEN c_custkey % 4 = 0
               THEN 'seg1:' || c_mktsegment
               ELSE 'seg0:' || c_mktsegment END AS state
           FROM customer WHERE c_custkey % 2 = 0),
         fk AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS dim_key
           FROM orders)
         SELECT dim_key, state, false AS inferred FROM dm
         UNION ALL
         SELECT fk.dim_key, CAST(NULL AS VARCHAR) AS state,
           true AS inferred
         FROM fk ANTI JOIN dm USING (dim_key)""",
    "ts_flatness" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         m AS (SELECT round(avg(v), 6) AS vm,
             CAST(count(*) AS BIGINT) AS n FROM hourly),
         c AS (SELECT hr, v - vm AS vc, n FROM hourly CROSS JOIN m),
         x AS (SELECT vc, n, period,
             2.0 * pi() * CAST(hr % period AS DOUBLE) / period AS theta
           FROM c CROSS JOIN
             (SELECT unnest([6, 8, 12, 24, 48, 168]) AS period)),
         g AS (SELECT period, max(n) AS n,
             sum(vc * cos(theta)) AS cc, sum(vc * sin(theta)) AS ss
           FROM x GROUP BY 1),
         p AS (SELECT period,
             CAST(round(round((cc * cc + ss * ss) / CAST(n AS DOUBLE),
               4) * 1e4) AS BIGINT) AS p4
           FROM g),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(p4) AS BIGINT) AS sp4,
             CAST(sum(CASE WHEN p4 > 0 THEN
               CAST(round(ln(CAST(p4 AS DOUBLE)) * 1e6) AS BIGINT) END)
               AS BIGINT) AS sl,
             CAST(sum(CASE WHEN p4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zeros
           FROM p),
         dom AS (SELECT CAST(period AS BIGINT) AS dominant_period
           FROM p ORDER BY p4 DESC, period LIMIT 1)
         SELECT k, dominant_period,
           CASE WHEN zeros > 0 THEN 0.0
             ELSE round(exp(CAST(sl AS DOUBLE) / 1e6 / k) * k / sp4, 6)
             END AS flatness
         FROM a CROSS JOIN dom""",
    "ann_l2" ->
      """WITH vv AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
         qv AS (SELECT q AS qq FROM vv WHERE vec_id = 0),
         d AS (SELECT vec_id,
             list_aggregate(list_transform(list_zip(q, qq),
               s -> (s[1] - s[2]) * (s[1] - s[2])), 'sum') AS d2q
           FROM vv CROSS JOIN qv WHERE vec_id <> 0)
         SELECT vec_id, CAST(d2q AS BIGINT) AS d2q
         FROM d ORDER BY d2q, vec_id LIMIT 10""",
    "st_brunner_munzel" ->
      """WITH pts AS (SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM pts),
         rk AS (SELECT ca, cb, ca + cb AS t,
             coalesce(sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ba,
             coalesce(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bb
           FROM pts),
         m AS (SELECT ca, cb, 2 * (ba + bb) + t + 1 AS mr2,
             2 * ba + ca + 1 AS mra2, 2 * bb + cb + 1 AS mrb2
           FROM rk),
         agg AS (SELECT
             sum(CAST(ca * mr2 AS HUGEINT)) AS sra,
             sum(CAST(cb * mr2 AS HUGEINT)) AS srb,
             sum(CAST(ca * (mr2 - mra2) AS HUGEINT)) AS spa,
             sum(CAST(ca AS HUGEINT)
               * CAST((mr2 - mra2) * (mr2 - mra2) AS HUGEINT)) AS spa2,
             sum(CAST(cb * (mr2 - mrb2) AS HUGEINT)) AS spb,
             sum(CAST(cb AS HUGEINT)
               * CAST((mr2 - mrb2) * (mr2 - mrb2) AS HUGEINT)) AS spb2
           FROM m)
         SELECT na AS n_a, nb AS n_b,
           round((CAST(srb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE))
             - (CAST(nb AS DOUBLE) + 1.0) / 2.0) / CAST(na AS DOUBLE),
             6) AS p_hat,
           round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             * (CAST(srb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE))
               - CAST(sra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)))
             / nullif(CAST(na + nb AS DOUBLE)
               * sqrt(CAST(na AS DOUBLE)
                 * ((CAST(spa2 AS DOUBLE) - CAST(spa AS DOUBLE)
                   * CAST(spa AS DOUBLE) / CAST(na AS DOUBLE))
                   / (4.0 * (CAST(na AS DOUBLE) - 1.0)))
                 + CAST(nb AS DOUBLE)
                 * ((CAST(spb2 AS DOUBLE) - CAST(spb AS DOUBLE)
                   * CAST(spb AS DOUBLE) / CAST(nb AS DOUBLE))
                   / (4.0 * (CAST(nb AS DOUBLE) - 1.0)))), 0.0), 6)
             AS bm_w
         FROM agg CROSS JOIN tot""",
    "tx_coverage" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
           FROM documents),
         vc AS (SELECT t, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM vc),
         rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rn
           FROM vc),
         ks AS (SELECT CAST(k AS BIGINT) AS k
           FROM (VALUES (10), (30), (100), (300)) t(k)),
         cov AS (SELECT k,
             CAST(sum(CASE WHEN rn <= k THEN c ELSE 0 END) AS BIGINT)
               AS cv
           FROM rk CROSS JOIN ks GROUP BY 1)
         SELECT k, cv AS covered, tt AS total,
           round(CAST(cv AS DOUBLE) / tt, 6) AS coverage
         FROM cov CROSS JOIN tot""",
    "sp_mantel" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cell_lat,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cell_lon,
             CAST(count(*) AS BIGINT) AS x
           FROM p GROUP BY 1, 2),
         pr AS (SELECT
             CAST(round(2.0 * 6371.0 * asin(sqrt(
               pow(sin(radians(((b.cell_lat + 0.5) * 10 - 90.0)
                 - ((a.cell_lat + 0.5) * 10 - 90.0)) / 2), 2)
               + cos(radians((a.cell_lat + 0.5) * 10 - 90.0))
                 * cos(radians((b.cell_lat + 0.5) * 10 - 90.0))
                 * pow(sin(radians(((b.cell_lon + 0.5) * 10 - 180.0)
                   - ((a.cell_lon + 0.5) * 10 - 180.0)) / 2), 2)))
               * 1e4) AS BIGINT) AS dg,
             abs(a.x - b.x) AS dv
           FROM g a JOIN g b
             ON a.cell_lat < b.cell_lat
               OR (a.cell_lat = b.cell_lat AND a.cell_lon < b.cell_lon)),
         s AS (SELECT CAST(count(*) AS BIGINT) AS np,
             sum(CAST(dg AS HUGEINT)) AS sg,
             sum(CAST(dv AS HUGEINT)) AS sv,
             sum(CAST(dg AS HUGEINT) * dg) AS sgg,
             sum(CAST(dv AS HUGEINT) * dv) AS svv,
             sum(CAST(dg AS HUGEINT) * dv) AS sgv
           FROM pr)
         SELECT np AS n_pairs,
           round((CAST(np AS DOUBLE) * CAST(sgv AS DOUBLE)
               - CAST(sg AS DOUBLE) * CAST(sv AS DOUBLE))
             / nullif(sqrt(CAST(np AS DOUBLE) * CAST(sgg AS DOUBLE)
                 - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
               * sqrt(CAST(np AS DOUBLE) * CAST(svv AS DOUBLE)
                 - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)), 0.0), 6)
             AS mantel_r
         FROM s""",
    "sp_variogram" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cell_lat,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cell_lon,
             CAST(count(*) AS BIGINT) AS x
           FROM p GROUP BY 1, 2),
         pr AS (SELECT
             CAST(floor(CAST(round(2.0 * 6371.0 * asin(sqrt(
               pow(sin(radians(((b.cell_lat + 0.5) * 10 - 90.0)
                 - ((a.cell_lat + 0.5) * 10 - 90.0)) / 2), 2)
               + cos(radians((a.cell_lat + 0.5) * 10 - 90.0))
                 * cos(radians((b.cell_lat + 0.5) * 10 - 90.0))
                 * pow(sin(radians(((b.cell_lon + 0.5) * 10 - 180.0)
                   - ((a.cell_lon + 0.5) * 10 - 180.0)) / 2), 2)))
               * 1e4) AS BIGINT) / 20000000) AS BIGINT) AS band,
             CAST((a.x - b.x) * (a.x - b.x) AS HUGEINT) AS d2
           FROM g a JOIN g b
             ON a.cell_lat < b.cell_lat
               OR (a.cell_lat = b.cell_lat AND a.cell_lon < b.cell_lon))
         SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(d2) AS DOUBLE) / (2.0 * count(*)), 6)
             AS gamma
         FROM pr GROUP BY 1""",
    "tx_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         ix AS (SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 2)) AS i
           FROM tok WHERE len(t) >= 3),
         tri AS (SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
           FROM ix),
         fs AS (SELECT g, min(doc_id) AS fd FROM tri GROUP BY 1),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS nv
           FROM tri JOIN fs USING (g) GROUP BY 1),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         SELECT least(9, (doc_id * 10) // n) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(floor(CAST(nv AS DOUBLE) / ng * 1e6 + 0.5)
               AS BIGINT)) AS DOUBLE) / (count(*) * 1e6), 6) AS novelty
         FROM pd CROSS JOIN nd GROUP BY 1""",
    "gr_coreness" ->
      """WITH cp AS MATERIALIZED (SELECT l1.l_suppkey AS s1,
             l2.l_suppkey AS s2, count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         e AS (SELECT s1 AS a, s2 AS b FROM cp
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM cp)),
         e0 AS MATERIALIZED (SELECT DISTINCT *
           FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e)),
         c0 AS (SELECT a AS node, CAST(count(*) AS INT) AS c
           FROM e0 GROUP BY 1),
         h1 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c0 c ON u.b = c.node GROUP BY 1, 2),
         c1 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h1)
           GROUP BY 1),
         h2 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c1 c ON u.b = c.node GROUP BY 1, 2),
         c2 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h2)
           GROUP BY 1),
         h3 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c2 c ON u.b = c.node GROUP BY 1, 2),
         c3 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h3)
           GROUP BY 1),
         h4 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c3 c ON u.b = c.node GROUP BY 1, 2),
         c4 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h4)
           GROUP BY 1),
         h5 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c4 c ON u.b = c.node GROUP BY 1, 2),
         c5 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h5)
           GROUP BY 1),
         h6 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c5 c ON u.b = c.node GROUP BY 1, 2),
         c6 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h6)
           GROUP BY 1),
         h7 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c6 c ON u.b = c.node GROUP BY 1, 2),
         c7 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h7)
           GROUP BY 1),
         h8 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c7 c ON u.b = c.node GROUP BY 1, 2),
         c8 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h8)
           GROUP BY 1),
         h9 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c8 c ON u.b = c.node GROUP BY 1, 2),
         c9 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h9)
           GROUP BY 1),
         h10 AS (SELECT u.a, c.c AS cb, count(*) AS n
           FROM e0 u JOIN c9 c ON u.b = c.node GROUP BY 1, 2),
         c10 AS (SELECT a AS node, CAST(max(least(cb, cw)) AS INT) AS c
           FROM (SELECT a, cb, sum(n) OVER (PARTITION BY a
               ORDER BY cb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cw FROM h10)
           GROUP BY 1),
         fin AS (SELECT node, c FROM c10)
         SELECT c AS coreness, CAST(count(*) AS BIGINT) AS n_nodes
         FROM fin GROUP BY 1""",
    "gr_local_cc" ->
      """WITH cp AS MATERIALIZED (SELECT l1.l_suppkey AS s1,
             l2.l_suppkey AS s2, count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         und AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM cp
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM cp)),
         deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT a AS node FROM und
                 UNION ALL SELECT b FROM und) GROUP BY 1),
         o AS MATERIALIZED (SELECT
             CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
               THEN a ELSE b END AS u,
             CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
               THEN b ELSE a END AS v,
             CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
               THEN d2.deg ELSE d1.deg END AS dv
           FROM und JOIN deg d1 ON und.a = d1.node
             JOIN deg d2 ON und.b = d2.node),
         tri AS (SELECT o1.u, o1.v AS x, o2.v AS y
           FROM o o1 JOIN o o2 ON o1.u = o2.u
             AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
           WHERE EXISTS (SELECT 1 FROM o o3
             WHERE o3.u = o1.v AND o3.v = o2.v)),
         pn AS (SELECT node, CAST(count(*) AS BIGINT) AS t
           FROM (SELECT u AS node FROM tri UNION ALL SELECT x FROM tri
                 UNION ALL SELECT y FROM tri) GROUP BY 1),
         l AS (SELECT deg.deg,
             2.0 * coalesce(t, 0) / (deg.deg * (deg.deg - 1)) AS lcc
           FROM deg LEFT JOIN pn ON deg.node = pn.node WHERE deg.deg >= 2)
         SELECT CAST(floor(lcc * 10) AS INT) AS lcc_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           round(CAST(sum(CAST(round(lcc * 1000000) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0), 6) AS avg_lcc
         FROM l GROUP BY 1""",
    "gr_richclub" ->
      """WITH cp AS MATERIALIZED (SELECT l1.l_suppkey AS s1,
             l2.l_suppkey AS s2, count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         und AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM cp
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM cp)),
         deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT a AS node FROM und
                 UNION ALL SELECT b FROM und) GROUP BY 1),
         ks AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS k),
         nk AS (SELECT k,
             CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_k
           FROM deg CROSS JOIN ks GROUP BY 1),
         ek AS (SELECT k,
             CAST(sum(CASE WHEN d1.deg > k AND d2.deg > k THEN 1 ELSE 0
               END) AS BIGINT) AS e_k
           FROM und JOIN deg d1 ON und.a = d1.node
             JOIN deg d2 ON und.b = d2.node
             CROSS JOIN ks GROUP BY 1)
         SELECT nk.k, n_k, e_k,
           CASE WHEN n_k >= 2
             THEN round(2.0 * e_k / (n_k * (n_k - 1)), 6) END AS phi
         FROM nk JOIN ek ON nk.k = ek.k""",
    "gr_kcore" ->
      """WITH c AS MATERIALIZED (SELECT l1.l_suppkey AS s1,
             l2.l_suppkey AS s2, count(*) AS cnt
           FROM lineitem l1 JOIN lineitem l2
             ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
           GROUP BY 1, 2),
         e AS (SELECT s1 AS a, s2 AS b FROM c
           WHERE cnt > (SELECT quantile_cont(cnt, 0.9) FROM c)),
         e0 AS MATERIALIZED (SELECT DISTINCT *
           FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e)),
         k1 AS MATERIALIZED (SELECT a FROM e0
           GROUP BY a HAVING count(*) >= 3),
         e1 AS MATERIALIZED (SELECT u.a, u.b FROM e0 u
           WHERE u.a IN (SELECT a FROM k1)
             AND u.b IN (SELECT a FROM k1)),
         k2 AS MATERIALIZED (SELECT a FROM e1
           GROUP BY a HAVING count(*) >= 3),
         e2 AS MATERIALIZED (SELECT u.a, u.b FROM e1 u
           WHERE u.a IN (SELECT a FROM k2)
             AND u.b IN (SELECT a FROM k2)),
         k3 AS MATERIALIZED (SELECT a FROM e2
           GROUP BY a HAVING count(*) >= 3),
         e3 AS MATERIALIZED (SELECT u.a, u.b FROM e2 u
           WHERE u.a IN (SELECT a FROM k3)
             AND u.b IN (SELECT a FROM k3)),
         k4 AS MATERIALIZED (SELECT a FROM e3
           GROUP BY a HAVING count(*) >= 3),
         e4 AS MATERIALIZED (SELECT u.a, u.b FROM e3 u
           WHERE u.a IN (SELECT a FROM k4)
             AND u.b IN (SELECT a FROM k4)),
         k5 AS MATERIALIZED (SELECT a FROM e4
           GROUP BY a HAVING count(*) >= 3),
         e5 AS MATERIALIZED (SELECT u.a, u.b FROM e4 u
           WHERE u.a IN (SELECT a FROM k5)
             AND u.b IN (SELECT a FROM k5)),
         k6 AS MATERIALIZED (SELECT a FROM e5
           GROUP BY a HAVING count(*) >= 3),
         e6 AS MATERIALIZED (SELECT u.a, u.b FROM e5 u
           WHERE u.a IN (SELECT a FROM k6)
             AND u.b IN (SELECT a FROM k6)),
         k7 AS MATERIALIZED (SELECT a FROM e6
           GROUP BY a HAVING count(*) >= 3),
         e7 AS MATERIALIZED (SELECT u.a, u.b FROM e6 u
           WHERE u.a IN (SELECT a FROM k7)
             AND u.b IN (SELECT a FROM k7)),
         k8 AS MATERIALIZED (SELECT a FROM e7
           GROUP BY a HAVING count(*) >= 3),
         e8 AS MATERIALIZED (SELECT u.a, u.b FROM e7 u
           WHERE u.a IN (SELECT a FROM k8)
             AND u.b IN (SELECT a FROM k8))
         SELECT a AS node, count(*) AS core_deg FROM e8 GROUP BY 1""",
    "gr_betweenness" ->
      """WITH p AS MATERIALIZED (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         srcs AS MATERIALIZED (SELECT node AS s FROM nodes
           ORDER BY md5('pivot:' || node::VARCHAR), node LIMIT 4),
         l0 AS MATERIALIZED (SELECT s, s AS node, CAST(1 AS BIGINT) AS sigma
           FROM srcs),
         t0 AS MATERIALIZED (SELECT s, node FROM l0),
         l1 AS MATERIALIZED (SELECT l.s, e.dst AS node,
             CAST(sum(l.sigma) AS BIGINT) AS sigma
           FROM l0 l JOIN e ON l.node = e.src
           WHERE NOT EXISTS (SELECT 1 FROM t0 t
             WHERE t.s = l.s AND t.node = e.dst)
           GROUP BY 1, 2),
         t1 AS MATERIALIZED (SELECT * FROM t0
           UNION ALL SELECT s, node FROM l1),
         l2 AS MATERIALIZED (SELECT l.s, e.dst AS node,
             CAST(sum(l.sigma) AS BIGINT) AS sigma
           FROM l1 l JOIN e ON l.node = e.src
           WHERE NOT EXISTS (SELECT 1 FROM t1 t
             WHERE t.s = l.s AND t.node = e.dst)
           GROUP BY 1, 2),
         t2 AS MATERIALIZED (SELECT * FROM t1
           UNION ALL SELECT s, node FROM l2),
         l3 AS MATERIALIZED (SELECT l.s, e.dst AS node,
             CAST(sum(l.sigma) AS BIGINT) AS sigma
           FROM l2 l JOIN e ON l.node = e.src
           WHERE NOT EXISTS (SELECT 1 FROM t2 t
             WHERE t.s = l.s AND t.node = e.dst)
           GROUP BY 1, 2),
         t3 AS MATERIALIZED (SELECT * FROM t2
           UNION ALL SELECT s, node FROM l3),
         l4 AS MATERIALIZED (SELECT l.s, e.dst AS node,
             CAST(sum(l.sigma) AS BIGINT) AS sigma
           FROM l3 l JOIN e ON l.node = e.src
           WHERE NOT EXISTS (SELECT 1 FROM t3 t
             WHERE t.s = l.s AND t.node = e.dst)
           GROUP BY 1, 2),
         t4 AS MATERIALIZED (SELECT * FROM t3
           UNION ALL SELECT s, node FROM l4),
         l5 AS MATERIALIZED (SELECT l.s, e.dst AS node,
             CAST(sum(l.sigma) AS BIGINT) AS sigma
           FROM l4 l JOIN e ON l.node = e.src
           WHERE NOT EXISTS (SELECT 1 FROM t4 t
             WHERE t.s = l.s AND t.node = e.dst)
           GROUP BY 1, 2),
         t5 AS MATERIALIZED (SELECT * FROM t4
           UNION ALL SELECT s, node FROM l5),
         l6 AS MATERIALIZED (SELECT l.s, e.dst AS node,
             CAST(sum(l.sigma) AS BIGINT) AS sigma
           FROM l5 l JOIN e ON l.node = e.src
           WHERE NOT EXISTS (SELECT 1 FROM t5 t
             WHERE t.s = l.s AND t.node = e.dst)
           GROUP BY 1, 2),
         t6 AS (SELECT * FROM t5
           UNION ALL SELECT s, node FROM l6),
         d6 AS MATERIALIZED (SELECT s, node, CAST(0 AS BIGINT) AS du FROM l6),
         d5 AS MATERIALIZED (SELECT v.s, v.node,
             CAST(coalesce(sum(tt.t), 0) AS BIGINT) AS du
           FROM l5 v LEFT JOIN (
             SELECT l.s, l.node,
               CAST(round(CAST(l.sigma AS DOUBLE) / w.sigma *
                 (1.0 + d.du / 1e9) * 1e9) AS BIGINT) AS t
             FROM l5 l JOIN e ON l.node = e.src
               JOIN l6 w ON w.s = l.s AND w.node = e.dst
               JOIN d6 d ON d.s = w.s AND d.node = w.node) tt
           ON tt.s = v.s AND tt.node = v.node
           GROUP BY 1, 2),
         d4 AS MATERIALIZED (SELECT v.s, v.node,
             CAST(coalesce(sum(tt.t), 0) AS BIGINT) AS du
           FROM l4 v LEFT JOIN (
             SELECT l.s, l.node,
               CAST(round(CAST(l.sigma AS DOUBLE) / w.sigma *
                 (1.0 + d.du / 1e9) * 1e9) AS BIGINT) AS t
             FROM l4 l JOIN e ON l.node = e.src
               JOIN l5 w ON w.s = l.s AND w.node = e.dst
               JOIN d5 d ON d.s = w.s AND d.node = w.node) tt
           ON tt.s = v.s AND tt.node = v.node
           GROUP BY 1, 2),
         d3 AS MATERIALIZED (SELECT v.s, v.node,
             CAST(coalesce(sum(tt.t), 0) AS BIGINT) AS du
           FROM l3 v LEFT JOIN (
             SELECT l.s, l.node,
               CAST(round(CAST(l.sigma AS DOUBLE) / w.sigma *
                 (1.0 + d.du / 1e9) * 1e9) AS BIGINT) AS t
             FROM l3 l JOIN e ON l.node = e.src
               JOIN l4 w ON w.s = l.s AND w.node = e.dst
               JOIN d4 d ON d.s = w.s AND d.node = w.node) tt
           ON tt.s = v.s AND tt.node = v.node
           GROUP BY 1, 2),
         d2 AS MATERIALIZED (SELECT v.s, v.node,
             CAST(coalesce(sum(tt.t), 0) AS BIGINT) AS du
           FROM l2 v LEFT JOIN (
             SELECT l.s, l.node,
               CAST(round(CAST(l.sigma AS DOUBLE) / w.sigma *
                 (1.0 + d.du / 1e9) * 1e9) AS BIGINT) AS t
             FROM l2 l JOIN e ON l.node = e.src
               JOIN l3 w ON w.s = l.s AND w.node = e.dst
               JOIN d3 d ON d.s = w.s AND d.node = w.node) tt
           ON tt.s = v.s AND tt.node = v.node
           GROUP BY 1, 2),
         d1 AS MATERIALIZED (SELECT v.s, v.node,
             CAST(coalesce(sum(tt.t), 0) AS BIGINT) AS du
           FROM l1 v LEFT JOIN (
             SELECT l.s, l.node,
               CAST(round(CAST(l.sigma AS DOUBLE) / w.sigma *
                 (1.0 + d.du / 1e9) * 1e9) AS BIGINT) AS t
             FROM l1 l JOIN e ON l.node = e.src
               JOIN l2 w ON w.s = l.s AND w.node = e.dst
               JOIN d2 d ON d.s = w.s AND d.node = w.node) tt
           ON tt.s = v.s AND tt.node = v.node
           GROUP BY 1, 2),
         d0 AS MATERIALIZED (SELECT v.s, v.node,
             CAST(coalesce(sum(tt.t), 0) AS BIGINT) AS du
           FROM l0 v LEFT JOIN (
             SELECT l.s, l.node,
               CAST(round(CAST(l.sigma AS DOUBLE) / w.sigma *
                 (1.0 + d.du / 1e9) * 1e9) AS BIGINT) AS t
             FROM l0 l JOIN e ON l.node = e.src
               JOIN l1 w ON w.s = l.s AND w.node = e.dst
               JOIN d1 d ON d.s = w.s AND d.node = w.node) tt
           ON tt.s = v.s AND tt.node = v.node
           GROUP BY 1, 2),
         alld AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1
           UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3
           UNION ALL SELECT * FROM d4 UNION ALL SELECT * FROM d5
           UNION ALL SELECT * FROM d6),
         agg AS (SELECT node, CAST(sum(du) AS BIGINT) AS du
           FROM alld WHERE s <> node GROUP BY 1)
         SELECT n.node,
           floor(coalesce(agg.du, 0) / 1000.0 + 0.5) / 1e6
             AS betweenness
         FROM nodes n LEFT JOIN agg ON agg.node = n.node""",
    "w29_attribution_windows" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
           FROM events),
         p AS (SELECT ts_s - max(CASE WHEN event_type = 'click'
                 THEN ts_s END) OVER (PARTITION BY user_id
                 ORDER BY ts_s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS gap, event_type
           FROM e),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 3600
               THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 21600
               THEN 1 ELSE 0 END) AS BIGINT) AS c6,
             CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 86400
               THEN 1 ELSE 0 END) AS BIGINT) AS c24
           FROM p WHERE event_type = 'purchase')
         SELECT CAST(3600 AS BIGINT) AS window_s, n_purchases,
           c1 AS n_credited,
           round(CAST(c1 AS DOUBLE) / n_purchases, 6) AS credited_share
         FROM a
         UNION ALL SELECT CAST(21600 AS BIGINT), n_purchases, c6,
           round(CAST(c6 AS DOUBLE) / n_purchases, 6) FROM a
         UNION ALL SELECT CAST(86400 AS BIGINT), n_purchases, c24,
           round(CAST(c24 AS DOUBLE) / n_purchases, 6) FROM a""",
    "w28_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week
           FROM events),
         firsts AS (SELECT user_id, min(week) AS first_week
           FROM uw GROUP BY 1),
         prev AS (SELECT user_id, week + 7 AS week, 1 AS was_active
           FROM uw),
         st AS (SELECT uw.week,
             uw.week = first_week AS is_new,
             prev.was_active IS NOT NULL AS was_active
           FROM uw JOIN firsts ON uw.user_id = firsts.user_id
             LEFT JOIN prev ON uw.user_id = prev.user_id
               AND uw.week = prev.week),
         weekly AS (SELECT week,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(sum(CASE WHEN NOT is_new AND was_active THEN 1
               ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN NOT is_new AND NOT was_active THEN 1
               ELSE 0 END) AS BIGINT) AS n_resurrected
           FROM st GROUP BY 1),
         pa AS (SELECT week + 7 AS week, n_active AS prev_active
           FROM weekly)
         SELECT weekly.week, n_active, n_new, n_retained,
           n_resurrected,
           CAST(coalesce(prev_active, 0) - n_retained AS BIGINT)
             AS n_churned
         FROM weekly LEFT JOIN pa ON weekly.week = pa.week""",
    "gr_ppr" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         deg AS MATERIALIZED (SELECT src, count(*) AS outdeg
           FROM e GROUP BY 1),
         sd AS MATERIALIZED (SELECT src AS node,
             CAST(1.0 AS DOUBLE) / 4 AS base
           FROM deg ORDER BY src LIMIT 4),
         r0 AS (SELECT deg.src AS node, coalesce(sd.base, 0.0) AS rank
           FROM deg LEFT JOIN sd ON sd.node = deg.src),
         m1 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r0 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r1 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 * coalesce(sd.base, 0)
               + CAST(0.85 AS DOUBLE) * coalesce(m1.m, 0), 9) AS rank
           FROM deg LEFT JOIN m1 ON m1.dst = deg.src
             LEFT JOIN sd ON sd.node = deg.src),
         m2 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r1 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r2 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 * coalesce(sd.base, 0)
               + CAST(0.85 AS DOUBLE) * coalesce(m2.m, 0), 9) AS rank
           FROM deg LEFT JOIN m2 ON m2.dst = deg.src
             LEFT JOIN sd ON sd.node = deg.src),
         m3 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r2 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r3 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 * coalesce(sd.base, 0)
               + CAST(0.85 AS DOUBLE) * coalesce(m3.m, 0), 9) AS rank
           FROM deg LEFT JOIN m3 ON m3.dst = deg.src
             LEFT JOIN sd ON sd.node = deg.src),
         m4 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r3 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r4 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 * coalesce(sd.base, 0)
               + CAST(0.85 AS DOUBLE) * coalesce(m4.m, 0), 9) AS rank
           FROM deg LEFT JOIN m4 ON m4.dst = deg.src
             LEFT JOIN sd ON sd.node = deg.src),
         m5 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r4 r ON e.src = r.node
             JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r5 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 * coalesce(sd.base, 0)
               + CAST(0.85 AS DOUBLE) * coalesce(m5.m, 0), 9) AS rank
           FROM deg LEFT JOIN m5 ON m5.dst = deg.src
             LEFT JOIN sd ON sd.node = deg.src),
         r AS (SELECT node, round(rank, 6) AS ppr FROM r5)
         SELECT node, ppr FROM r WHERE ppr > 0""",
    "gr_eigenvector" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         nodes AS (SELECT DISTINCT src AS node FROM e),
         x0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS score FROM nodes),
         m1 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x0 x ON e.src = x.node GROUP BY 1),
         x1 AS (SELECT n.node, round(coalesce(m1.m, 0), 9) AS score
           FROM nodes n LEFT JOIN m1 ON m1.dst = n.node),
         m2 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x1 x ON e.src = x.node GROUP BY 1),
         x2 AS (SELECT n.node, round(coalesce(m2.m, 0), 9) AS score
           FROM nodes n LEFT JOIN m2 ON m2.dst = n.node),
         m3 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x2 x ON e.src = x.node GROUP BY 1),
         x3 AS (SELECT n.node, round(coalesce(m3.m, 0), 9) AS score
           FROM nodes n LEFT JOIN m3 ON m3.dst = n.node),
         m4 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x3 x ON e.src = x.node GROUP BY 1),
         x4 AS (SELECT n.node, round(coalesce(m4.m, 0), 9) AS score
           FROM nodes n LEFT JOIN m4 ON m4.dst = n.node),
         m5 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x4 x ON e.src = x.node GROUP BY 1),
         x5 AS (SELECT n.node, round(coalesce(m5.m, 0), 9) AS score
           FROM nodes n LEFT JOIN m5 ON m5.dst = n.node),
         mx AS (SELECT max(score) AS mx FROM x5)
         SELECT node, round(score / mx, 6) AS eig
         FROM x5 CROSS JOIN mx""",
    "gr_katz" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         nodes AS (SELECT DISTINCT src AS node FROM e),
         x0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS score FROM nodes),
         m1 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x0 x ON e.src = x.node GROUP BY e.dst),
         x1 AS (SELECT nodes.node,
             round(CAST(1.0 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) * coalesce(m1.m, 0), 9) AS score
           FROM nodes LEFT JOIN m1 ON m1.dst = nodes.node),
         m2 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x1 x ON e.src = x.node GROUP BY e.dst),
         x2 AS (SELECT nodes.node,
             round(CAST(1.0 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) * coalesce(m2.m, 0), 9) AS score
           FROM nodes LEFT JOIN m2 ON m2.dst = nodes.node),
         m3 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x2 x ON e.src = x.node GROUP BY e.dst),
         x3 AS (SELECT nodes.node,
             round(CAST(1.0 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) * coalesce(m3.m, 0), 9) AS score
           FROM nodes LEFT JOIN m3 ON m3.dst = nodes.node),
         m4 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x3 x ON e.src = x.node GROUP BY e.dst),
         x4 AS (SELECT nodes.node,
             round(CAST(1.0 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) * coalesce(m4.m, 0), 9) AS score
           FROM nodes LEFT JOIN m4 ON m4.dst = nodes.node),
         m5 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x4 x ON e.src = x.node GROUP BY e.dst),
         x5 AS (SELECT nodes.node,
             round(CAST(1.0 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) * coalesce(m5.m, 0), 9) AS score
           FROM nodes LEFT JOIN m5 ON m5.dst = nodes.node),
         m6 AS (SELECT e.dst, sum(x.score) AS m
           FROM e JOIN x5 x ON e.src = x.node GROUP BY e.dst),
         x6 AS (SELECT nodes.node,
             round(CAST(1.0 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) * coalesce(m6.m, 0), 9) AS score
           FROM nodes LEFT JOIN m6 ON m6.dst = nodes.node)
         SELECT node, round(score, 6) AS katz FROM x6""",
    "gr_pagerank" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM deg),
         r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / n AS rank
           FROM deg CROSS JOIN nn),
         m1 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r0 r ON e.src = r.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r1 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m1.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn LEFT JOIN m1 ON m1.dst = deg.src),
         m2 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r1 r ON e.src = r.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r2 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m2.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn LEFT JOIN m2 ON m2.dst = deg.src),
         m3 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r2 r ON e.src = r.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r3 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m3.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn LEFT JOIN m3 ON m3.dst = deg.src),
         m4 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r3 r ON e.src = r.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r4 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m4.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn LEFT JOIN m4 ON m4.dst = deg.src),
         m5 AS (SELECT e.dst, sum(r.rank / deg.outdeg) AS m
           FROM e JOIN r4 r ON e.src = r.node JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
         r5 AS (SELECT deg.src AS node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(m5.m, 0), 9) AS rank
           FROM deg CROSS JOIN nn LEFT JOIN m5 ON m5.dst = deg.src)
         SELECT node, round(rank, 6) AS rank FROM r5""",
    "gr_lpa" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         a1 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
         l1 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a1) WHERE rn = 1),
         a2 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
         l2 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a2) WHERE rn = 1),
         a3 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
         l3 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a3) WHERE rn = 1)
         SELECT node, label FROM l3""",
    "gr_conductance" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         a1 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
         l1 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a1) WHERE rn = 1),
         a2 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
         l2 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a2) WHERE rn = 1),
         a3 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
         l3 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a3) WHERE rn = 1),
         j AS (SELECT ls.label AS cs, ld.label AS cd FROM e
           JOIN l3 ls ON e.src = ls.node JOIN l3 ld ON e.dst = ld.node),
         cagg AS (SELECT cs AS community,
             CAST(count(*) AS BIGINT) AS vol,
             CAST(sum(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS BIGINT)
               AS inside
           FROM j GROUP BY 1),
         t AS (SELECT CAST(sum(vol) AS BIGINT) AS m2 FROM cagg)
         SELECT community, vol, vol - inside AS cut,
           round(CAST(vol - inside AS DOUBLE)
             / nullif(CAST(least(vol, m2 - vol) AS DOUBLE), 0), 6)
             AS conductance
         FROM cagg CROSS JOIN t
         ORDER BY vol DESC, community LIMIT 10""",
    "gr_modularity" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION ALL SELECT b, a FROM p),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         a1 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
         l1 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a1) WHERE rn = 1),
         a2 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
         l2 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a2) WHERE rn = 1),
         a3 AS (SELECT e.dst, l.label, count(*) AS c
           FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
         l3 AS (SELECT dst AS node, label FROM (SELECT dst, label,
             row_number() OVER (PARTITION BY dst
               ORDER BY c DESC, label) AS rn FROM a3) WHERE rn = 1),
         j AS (SELECT ls.label AS cs, ld.label AS cd FROM e
           JOIN l3 ls ON e.src = ls.node JOIN l3 ld ON e.dst = ld.node),
         cagg AS (SELECT cs, count(*) AS deg,
             sum(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS inside
           FROM j GROUP BY 1),
         tot AS (SELECT count(*) AS n_communities,
             CAST(sum(inside) AS HUGEINT) AS i,
             CAST(sum(deg) AS HUGEINT) AS m2,
             CAST(sum(deg * deg) AS HUGEINT) AS d2
           FROM cagg)
         SELECT n_communities,
           round(CAST(i * m2 - d2 AS DOUBLE)
             / CAST(m2 * m2 AS DOUBLE), 6) AS modularity
         FROM tot""",
    "dq_observe" ->
      """SELECT count(*) AS n_rows,
           count(CASE WHEN value IS NULL THEN 1 END) AS null_values,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(sum(value), 2) AS sum_value
         FROM events""",
    "w22_distribution_rank" ->
      """SELECT event_id, event_type, value,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value)""",
    "st_ols" ->
      """SELECT l_returnflag, count(*) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
         FROM lineitem GROUP BY l_returnflag""",
    "st_gini" ->
      """WITH r AS (SELECT o_orderpriority, o_totalprice AS x,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice) AS i
           FROM orders)
         SELECT o_orderpriority, count(*) AS n,
           round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
         FROM r GROUP BY o_orderpriority""",
    "st_freq_topn" ->
      """SELECT p_brand, count(*) AS n FROM part
         GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 10""",
    // st_sample: seeded sampling is engine-specific → rows-only check.
    "w1_lag_change" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, prev_type,
           CASE WHEN prev_type IS NULL THEN 0
                WHEN event_type <> prev_type THEN 1 ELSE 0 END AS changed
         FROM (SELECT *, lag(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
               FROM events)""",
    "w2_session_number" ->
      """SELECT event_id, user_id,
           CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
         FROM (
           SELECT event_id, user_id, ts,
             CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM (SELECT *, lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                 FROM events))""",
    "w3_rownum_first" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events)
         WHERE rn = 1""",
    "w4_rolling" ->
      """SELECT event_id, user_id,
           round(avg(value) OVER w, 4) AS roll_avg,
           round(max(value) OVER w, 4) AS roll_max
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "w5_session_summary" ->
      """SELECT user_id, session_no,
           min(us) AS start_us, max(us) AS end_us,
           count(*) AS n_events, round(avg(value),4) AS avg_value,
           round((max(us) - min(us)) / 1000000.0, 6) AS duration_sec
         FROM (
           SELECT user_id, value, us,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
           FROM (
             SELECT user_id, value, epoch_us(ts) AS us, event_id,
               CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                    THEN 1 ELSE 0 END AS new_session
             FROM (SELECT *, lag(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                   FROM events)))
         GROUP BY user_id, session_no""",
    "w6_rank_lead" ->
      """SELECT event_id, user_id, value, rnk, drnk, next_ts_us FROM (
           SELECT event_id, user_id, value,
             CAST(rank() OVER wv AS INTEGER) AS rnk,
             CAST(dense_rank() OVER wv AS INTEGER) AS drnk,
             lead(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts_us
           FROM events
           WINDOW wv AS (PARTITION BY user_id ORDER BY value DESC, event_id))
         WHERE rnk <= 3""",
    "w8_ntile" ->
      """SELECT event_id, user_id, value,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""",
    "w7_nested_flatten" ->
      "SELECT user_id, epoch_us(ts) AS ts_us, value FROM events",
    "w9_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
             FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
         SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth,
           epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
           epoch_us(t3) AS t3_us
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)""",
    // st_approx_distinct: HLL sketches are engine-specific → rows-only +
    // property spec (relative error vs the exact count).
    // dd_cdc_chunks (r12 flip): content-defined chunking on the Rabin
    // polynomial family — grams, boundaries (h ≡ 0 mod 16), spans and
    // the order-sensitive chunk fold all replay as list CTEs.
    "dd_cdc_chunks" ->
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         sh AS (SELECT doc_id,
             list_transform(range(1, len(t) - 2), i ->
               list_reduce(list_prepend(7::BIGINT,
                 list_transform(string_split(
                     array_to_string(t[i:i+3], ' '), ''),
                   ch -> CAST(ascii(ch) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
           FROM tt WHERE len(t) >= 4),
         bn AS (SELECT doc_id, hs,
             list_concat(list_concat([0::BIGINT],
               list_filter(range(1, len(hs) + 1), j -> hs[j] % 16 = 0)),
               [len(hs)::BIGINT]) AS bnds
           FROM sh),
         sp AS (SELECT doc_id, hs, unnest(list_filter(
             list_transform(range(1, len(bnds)), j ->
               {'s': bnds[j], 'e': bnds[j + 1]}), x -> x.e > x.s)) AS span
           FROM bn),
         ch AS (SELECT doc_id, span.e - span.s AS n_tokens,
             list_reduce(list_prepend(7::BIGINT,
                 hs[(span.s + 1)::INT : (span.e)::INT]),
               (acc, h) -> (acc * 131 + h) % 1000000007) AS chunk_hash
           FROM sp)
         SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(n_tokens) AS BIGINT) AS n_tokens
         FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash LIMIT 30""",
    // st_cms (r12 flip): the count-min table IS SQL — 60-bit md5 key,
    // Carter-Wegman cell family (CmsAggregator.CwA/B/E literals below
    // — change BOTH sides or the gate fails), per-value exact counts
    // summed per (row, cell), estimate = min over rows. The x₂ limb
    // term (CwC·(x >>> 60)) is identically zero for 15-hex-char keys
    // and is omitted here.
    "st_cms" ->
      """WITH consts AS (SELECT * FROM (VALUES
             (0, 764258976, 611957299, 15485863),
             (1, 179424673, 524287387, 32452843),
             (2, 433024223, 858599509, 49979687),
             (3, 982451653, 298154327, 67867967),
             (4, 715225739, 141650963, 86028121)) t(d, a, b, e)),
         v AS (SELECT event_type AS value, CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1),
         hx AS (SELECT value, cnt,
             ('0x' || substr(md5(value), 1, 15))::BIGINT AS x FROM v),
         cells AS (SELECT d,
             ((a * (x % 1073741824) + b * (x // 1073741824) + e)
               % 1000000007) % 2048 AS cell, cnt
           FROM hx CROSS JOIN consts),
         tbl AS (SELECT d, cell, CAST(sum(cnt) AS BIGINT) AS c
           FROM cells GROUP BY 1, 2),
         probes AS (SELECT unnest(['click','error','purchase','signup',
             'view']) AS value),
         pc AS (SELECT value, d,
             ((a * (x % 1073741824) + b * (x // 1073741824) + e)
               % 1000000007) % 2048 AS cell
           FROM (SELECT value,
               ('0x' || substr(md5(value), 1, 15))::BIGINT AS x
             FROM probes) px
           CROSS JOIN consts)
         SELECT value, CAST(min(coalesce(tbl.c, 0)) AS BIGINT) AS estimate
         FROM pc LEFT JOIN tbl USING (d, cell)
         GROUP BY value ORDER BY value""",
    "q22_range_join" ->
      """WITH iv AS (SELECT n_nationkey,
             1704067200000000 + n_nationkey*100800000000 AS s_us,
             1704067200000000 + n_nationkey*100800000000 + 28800000000 AS e_us
           FROM nation),
         ev AS (SELECT epoch_us(ts) AS p_us FROM events)
         SELECT n_nationkey, count(*) AS n_events, min(p_us) AS first_us
         FROM iv JOIN ev ON p_us BETWEEN s_us AND e_us
         GROUP BY n_nationkey""",
    "ts_hod_dow" ->
      """WITH cells AS (SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hod,
             CAST(count(*) AS BIGINT) AS n,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS value_mean
           FROM events GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
         SELECT dow, hod, n, value_mean,
           round(n / CAST(nt AS DOUBLE), 6) AS share
         FROM cells CROSS JOIN t""",
    "ts_resample" ->
      """WITH s AS (
           SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS slot_us,
             count(*) AS n,
             CAST(sum(CAST(round(value*100) AS BIGINT)) * 100 // count(*) AS BIGINT)
               AS avg_value_e4
           FROM events GROUP BY 1, 2),
         b AS (SELECT user_id, min(slot_us) AS lo, max(slot_us) AS hi
               FROM s GROUP BY 1),
         dense AS (SELECT user_id,
             unnest(range(lo, hi + 3600000000, 3600000000)) AS slot_us FROM b)
         SELECT d.user_id, d.slot_us, coalesce(s.n, 0) AS n,
           last_value(s.avg_value_e4 IGNORE NULLS) OVER
             (PARTITION BY d.user_id ORDER BY d.slot_us
              ROWS UNBOUNDED PRECEDING) AS avg_value_e4,
           s.n IS NULL AS filled
         FROM dense d LEFT JOIN s
           ON d.user_id = s.user_id AND d.slot_us = s.slot_us""",
    "ts_interpolate" ->
      """WITH s AS (
           SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS slot_us,
             count(*) AS n,
             CAST(sum(CAST(round(value*100) AS BIGINT)) * 100 // count(*) AS BIGINT)
               AS avg_value_e4
           FROM events GROUP BY 1, 2),
         b AS (SELECT user_id, min(slot_us) AS lo, max(slot_us) AS hi
               FROM s GROUP BY 1),
         dense AS (SELECT user_id,
             unnest(range(lo, hi + 3600000000, 3600000000)) AS slot_us FROM b),
         j AS (
           SELECT d.user_id, d.slot_us, s.n, s.avg_value_e4,
             last_value(s.avg_value_e4 IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN s.n IS NOT NULL THEN d.slot_us END IGNORE NULLS)
               OVER wp AS ps,
             first_value(s.avg_value_e4 IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN s.n IS NOT NULL THEN d.slot_us END IGNORE NULLS)
               OVER wn AS ns
           FROM dense d LEFT JOIN s
             ON d.user_id = s.user_id AND d.slot_us = s.slot_us
           WINDOW wp AS (PARTITION BY d.user_id ORDER BY d.slot_us
                         ROWS UNBOUNDED PRECEDING),
                  wn AS (PARTITION BY d.user_id ORDER BY d.slot_us
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, slot_us, coalesce(n, 0) AS n,
           CASE WHEN n IS NOT NULL THEN avg_value_e4
                ELSE (pv * (ns - slot_us) + nv * (slot_us - ps)) // (ns - ps)
           END AS value_e4,
           n IS NULL AS filled
         FROM j""",
    "q20_json_extract" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
         FROM events GROUP BY event_type""",
    "q21_like_filter" ->
      """SELECT p_brand, count(*) AS n, max(p_size) AS max_size
         FROM part
         WHERE p_type LIKE '%O%' AND p_name LIKE '%t'
         GROUP BY p_brand""",
    "q19_asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, event_id AS c_event_id
                         FROM events WHERE event_type = 'click'),
         purch AS (SELECT event_id AS p_event_id, user_id, ts
                   FROM events WHERE event_type = 'purchase')
         SELECT p.p_event_id, p.user_id, epoch_us(p.ts) AS p_ts_us, c.c_event_id
         FROM purch p ASOF JOIN clicks c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q19_asof_native" ->
      """WITH clicks AS (SELECT user_id, ts, event_id AS c_event_id
                         FROM events WHERE event_type = 'click'),
         purch AS (SELECT event_id AS p_event_id, user_id, ts
                   FROM events WHERE event_type = 'purchase')
         SELECT p.p_event_id, p.user_id, epoch_us(p.ts) AS p_ts_us, c.c_event_id
         FROM purch p ASOF JOIN clicks c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "lam_alert_classify" ->
      """SELECT event_type,
           CASE WHEN value < 100 THEN 'level_0'
                WHEN value < 300 THEN 'level_1' ELSE 'level_2' END AS alert_level,
           count(*) AS n,
           CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 200
             + count(*)) // (2 * count(*)) AS DOUBLE) / 1e4 AS avg_value
         FROM events GROUP BY 1, 2""",
    "lam_reconcile" ->
      """WITH k AS (SELECT CAST(day(ts) AS INTEGER) AS day, event_type,
             event_id, value FROM events),
         b AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS m
           FROM k WHERE day <= 20 GROUP BY 1, 2),
         sp AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS m
           FROM k WHERE day >= 20 AND event_id % 2 = 0 GROUP BY 1, 2)
         SELECT coalesce(b.day, sp.day) AS day,
           coalesce(b.event_type, sp.event_type) AS event_type,
           coalesce(b.n, sp.n) AS n,
           coalesce(b.m, sp.m) AS value_mean,
           CASE WHEN b.n IS NOT NULL THEN 'batch' ELSE 'speed' END AS layer
         FROM b FULL OUTER JOIN sp
           ON b.day = sp.day AND b.event_type = sp.event_type""",
    "lam_daily_profile" ->
      """SELECT CAST(day(ts) AS INTEGER) AS day, event_type,
           CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS value_mean,
           round(stddev_samp(value),6) AS value_std, count(*) AS n
         FROM events GROUP BY 1, 2""",
    "lam_records" ->
      """SELECT user_id, round(max(value),4) AS record_max,
           round(min(value),4) AS record_min,
           max(epoch_us(ts)) AS last_seen_us
         FROM events GROUP BY user_id""",
    "lam_anomaly_join" ->
      """WITH prof AS (
           SELECT CAST(day(ts) AS INTEGER) AS p_day, event_type AS p_type,
             (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS mean_micros,
             round(stddev_samp(value),6) AS value_std
           FROM events GROUP BY 1, 2)
         SELECT CAST(day(e.ts) AS INTEGER) AS day, e.event_type,
           count(*) AS n_anomalies,
           CAST((2 * max(abs(CAST(floor(e.value * 100 + 0.5) AS BIGINT)
               * 10000 - p.mean_micros)) + 100) // 200 AS DOUBLE) / 1e4
             AS max_deviation
         FROM events e JOIN prof p
           ON CAST(day(e.ts) AS INTEGER) = p.p_day AND e.event_type = p.p_type
         WHERE abs(e.value - CAST(p.mean_micros AS DOUBLE) / 1e6)
           > 2.0 * p.value_std
         GROUP BY 1, 2""",
    "lam_window_agg" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
         exp AS (
           SELECT (us // 10800000000) * 10800000000 AS window_start_us,
                  event_type, value FROM ev
           UNION ALL
           SELECT ((us // 10800000000) - 1) * 10800000000, event_type, value FROM ev)
         SELECT window_start_us, event_type, count(*) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) * 100 // count(*) AS BIGINT)
             AS avg_value_e4,
           round(max(value),4) AS max_value,
           count(CASE WHEN value >= 100 THEN 1 END) AS n_alerts
         FROM exp GROUP BY 1, 2""",
    "sp_sde" ->
      """WITH pts AS (SELECT
             CAST(round(((c_custkey * 31 % 3600) / 10.0 - 180.0) * 1e4)
               AS BIGINT) AS x4,
             CAST(round(((c_custkey * 17 % 1400) / 10.0 - 70.0) * 1e4)
               AS BIGINT) AS y4
           FROM customer),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x4 AS HUGEINT)) AS sx,
             sum(CAST(y4 AS HUGEINT)) AS sy,
             sum(CAST(x4 AS HUGEINT) * x4) AS sxx,
             sum(CAST(y4 AS HUGEINT) * y4) AS syy,
             sum(CAST(x4 AS HUGEINT) * y4) AS sxy
           FROM pts),
         d AS (SELECT n,
             CAST(sx AS DOUBLE) / n / 1e4 AS mx,
             CAST(sy AS DOUBLE) / n / 1e4 AS my,
             CAST(sxx AS DOUBLE) / n / 1e8
               - (CAST(sx AS DOUBLE) / n / 1e4)
                 * (CAST(sx AS DOUBLE) / n / 1e4) AS cxx,
             CAST(syy AS DOUBLE) / n / 1e8
               - (CAST(sy AS DOUBLE) / n / 1e4)
                 * (CAST(sy AS DOUBLE) / n / 1e4) AS cyy,
             CAST(sxy AS DOUBLE) / n / 1e8
               - (CAST(sx AS DOUBLE) / n / 1e4)
                 * (CAST(sy AS DOUBLE) / n / 1e4) AS cxy
           FROM m),
         t AS (SELECT *, CASE WHEN cxy = 0.0 THEN 0.0
             ELSE atan(((cxx - cyy)
               + sqrt((cxx - cyy) * (cxx - cyy) + 4.0 * cxy * cxy))
               / (2.0 * cxy)) END AS theta
           FROM d),
         v AS (SELECT *,
             cos(theta) * cos(theta) * cxx
               + 2.0 * cos(theta) * sin(theta) * cxy
               + sin(theta) * sin(theta) * cyy AS v1,
             sin(theta) * sin(theta) * cxx
               - 2.0 * cos(theta) * sin(theta) * cxy
               + cos(theta) * cos(theta) * cyy AS v2
           FROM t)
         SELECT n AS n_points, round(mx, 6) AS center_lon,
           round(my, 6) AS center_lat,
           round(degrees(theta), 4) AS theta_deg,
           round(sqrt(greatest(v1, v2)), 6) AS sigma_major,
           round(sqrt(least(v1, v2)), 6) AS sigma_minor
         FROM v""",
    "sp_haversine" ->
      """WITH c AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS c_lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS c_lon
           FROM customer WHERE c_custkey <= 20),
         s AS (SELECT s_suppkey,
             round(((s_suppkey * 23) % 1400)/10.0 - 70.0, 4) AS s_lat,
             round(((s_suppkey * 41) % 3600)/10.0 - 180.0, 4) AS s_lon
           FROM supplier)
         SELECT c_custkey, c_lat, c_lon, s_suppkey, s_lat, s_lon,
           round(2*6371.0*asin(sqrt(
             pow(sin(radians(s_lat - c_lat)/2), 2) +
             cos(radians(c_lat))*cos(radians(s_lat))*pow(sin(radians(s_lon - c_lon)/2), 2)
           )), 4) AS dist_km
         FROM c CROSS JOIN s""",
    "sp_geofence" ->
      """WITH pts AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         z AS (SELECT s_suppkey AS zone_id,
             greatest(round(((s_suppkey * 23) % 1400)/10.0 - 70.0, 4)
               - (1.0 + s_suppkey % 3), -70.0) AS lat_lo,
             least(round(((s_suppkey * 23) % 1400)/10.0 - 70.0, 4)
               + (1.0 + s_suppkey % 3), 70.0) AS lat_hi,
             greatest(round(((s_suppkey * 41) % 3600)/10.0 - 180.0, 4)
               - (1.0 + s_suppkey % 3), -180.0) AS lon_lo,
             least(round(((s_suppkey * 41) % 3600)/10.0 - 180.0, 4)
               + (1.0 + s_suppkey % 3), 180.0) AS lon_hi
           FROM supplier)
         SELECT zone_id, count(*) AS n_inside
         FROM z JOIN pts ON lat BETWEEN lat_lo AND lat_hi
           AND lon BETWEEN lon_lo AND lon_hi
         GROUP BY 1""",
    // r14: both spatial closures ride OracleSql.ccRounds (hook+jump,
    // loud convergence guard) and a MATERIALIZED pair join — the old
    // recursive reach was the gate's next long pole after percolation
    // (~7 min each at sf0.05), and dbscan's un-materialized edges CTE
    // re-ran the quadratic haversine join three times
    "sp_dbscan" ->
      s"""WITH pts AS MATERIALIZED (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         pairs AS MATERIALIZED (
           SELECT a.c_custkey AS d1, b.c_custkey AS d2
           FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
           WHERE round(2*6371.0*asin(sqrt(
             pow(sin(radians(b.lat - a.lat)/2), 2) +
             cos(radians(a.lat))*cos(radians(b.lat))
               *pow(sin(radians(b.lon - a.lon)/2), 2)
           )), 4) <= 300.0),
         edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION ALL SELECT d2, d1 FROM pairs),
         core AS MATERIALIZED (SELECT a AS pid FROM edges GROUP BY a
                  HAVING count(*) >= 2),
         ce AS MATERIALIZED (SELECT e.a, e.b FROM edges e
                JOIN core c1 ON e.a = c1.pid
                JOIN core c2 ON e.b = c2.pid),
         ${OracleSql.ccRounds("dbl", "ce")},
         corelab AS (SELECT c.pid,
             coalesce(cc.cluster_id, c.pid) AS cluster_id
           FROM core c LEFT JOIN dblcc cc ON c.pid = cc.node
           CROSS JOIN dblconv WHERE dblconv.n = 0),
         borderlab AS (SELECT e.a AS pid,
             min(cl.cluster_id) AS cluster_id
           FROM edges e JOIN corelab cl ON e.b = cl.pid
           WHERE e.a NOT IN (SELECT pid FROM core)
           GROUP BY e.a)
         SELECT pid, cluster_id, 'core' AS role FROM corelab
         UNION ALL
         SELECT pid, cluster_id, 'border' AS role FROM borderlab""",
    "sp_cluster" ->
      s"""WITH pts AS MATERIALIZED (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         pairs AS MATERIALIZED (
           SELECT a.c_custkey AS d1, b.c_custkey AS d2
           FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
           WHERE round(2*6371.0*asin(sqrt(
             pow(sin(radians(b.lat - a.lat)/2), 2) +
             cos(radians(a.lat))*cos(radians(b.lat))
               *pow(sin(radians(b.lon - a.lon)/2), 2)
           )), 4) <= 300.0),
         edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION ALL SELECT d2, d1 FROM pairs),
         ${OracleSql.ccRounds("scl", "edges")}
         SELECT node AS c_custkey, cluster_id FROM sclcc""",
    "sp_radius_join" ->
      """WITH pts AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer)
         SELECT a.c_custkey AS p1, b.c_custkey AS p2,
           round(2*6371.0*asin(sqrt(
             pow(sin(radians(b.lat - a.lat)/2), 2) +
             cos(radians(a.lat))*cos(radians(b.lat))
               *pow(sin(radians(b.lon - a.lon)/2), 2)
           )), 4) AS dist_km
         FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
         WHERE round(2*6371.0*asin(sqrt(
           pow(sin(radians(b.lat - a.lat)/2), 2) +
           cos(radians(a.lat))*cos(radians(b.lat))
             *pow(sin(radians(b.lon - a.lon)/2), 2)
         )), 4) <= 300.0""",
    "sp_nearest_join" ->
      """WITH c AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS c_lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS c_lon
           FROM customer),
         s AS (SELECT s_suppkey,
             round(((s_suppkey * 23) % 1400)/10.0 - 70.0, 4) AS s_lat,
             round(((s_suppkey * 41) % 3600)/10.0 - 180.0, 4) AS s_lon
           FROM supplier),
         d AS (SELECT c_custkey, s_suppkey,
             round(2*6371.0*asin(sqrt(
               pow(sin(radians(s_lat - c_lat)/2), 2) +
               cos(radians(c_lat))*cos(radians(s_lat))*pow(sin(radians(s_lon - c_lon)/2), 2)
             )), 4) AS dist_km
           FROM c CROSS JOIN s),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rnk FROM d)
         SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rnk = 1""",
    // sp_nearest_cell: the grid-bucketed variant must equal the exact NN join
    "sp_nearest_cell" ->
      """WITH c AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS c_lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS c_lon
           FROM customer),
         s AS (SELECT s_suppkey,
             round(((s_suppkey * 23) % 1400)/10.0 - 70.0, 4) AS s_lat,
             round(((s_suppkey * 41) % 3600)/10.0 - 180.0, 4) AS s_lon
           FROM supplier),
         d AS (SELECT c_custkey, s_suppkey,
             round(2*6371.0*asin(sqrt(
               pow(sin(radians(s_lat - c_lat)/2), 2) +
               cos(radians(c_lat))*cos(radians(s_lat))*pow(sin(radians(s_lon - c_lon)/2), 2)
             )), 4) AS dist_km
           FROM c CROSS JOIN s),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rnk FROM d)
         SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rnk = 1""",
    "tx_tokens" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
                AS INTEGER) AS n_re_tokens,
           CAST(length(text) AS INTEGER) AS n_chars
         FROM documents""",
    "pipe_quality_curve" ->
      """WITH s AS (SELECT
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) * 0.5
               + len(list_filter(string_split(text,' '), x -> x IN ('the','a')))
                 / len(string_split(text,' ')) * 0.3
               + least(1.0, len(string_split(text,' ')) / 100.0) * 0.2 AS q,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         a AS (SELECT CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(ntok) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN q >= 0.44 THEN 1 ELSE 0 END) AS BIGINT) AS d_44,
             CAST(sum(CASE WHEN q >= 0.44 THEN ntok ELSE 0 END) AS BIGINT) AS t_44,
             CAST(sum(CASE WHEN q >= 0.47 THEN 1 ELSE 0 END) AS BIGINT) AS d_47,
             CAST(sum(CASE WHEN q >= 0.47 THEN ntok ELSE 0 END) AS BIGINT) AS t_47,
             CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS d_50,
             CAST(sum(CASE WHEN q >= 0.5 THEN ntok ELSE 0 END) AS BIGINT) AS t_50,
             CAST(sum(CASE WHEN q >= 0.53 THEN 1 ELSE 0 END) AS BIGINT) AS d_53,
             CAST(sum(CASE WHEN q >= 0.53 THEN ntok ELSE 0 END) AS BIGINT) AS t_53,
             CAST(sum(CASE WHEN q >= 0.56 THEN 1 ELSE 0 END) AS BIGINT) AS d_56,
             CAST(sum(CASE WHEN q >= 0.56 THEN ntok ELSE 0 END) AS BIGINT) AS t_56,
             CAST(sum(CASE WHEN q >= 0.59 THEN 1 ELSE 0 END) AS BIGINT) AS d_59,
             CAST(sum(CASE WHEN q >= 0.59 THEN ntok ELSE 0 END) AS BIGINT) AS t_59,
             CAST(sum(CASE WHEN q >= 0.62 THEN 1 ELSE 0 END) AS BIGINT) AS d_62,
             CAST(sum(CASE WHEN q >= 0.62 THEN ntok ELSE 0 END) AS BIGINT) AS t_62
           FROM s)
         SELECT CAST(0.44 AS DOUBLE) AS threshold, d_44 AS docs_kept,
           t_44 AS tokens_kept,
           round(CAST(d_44 AS DOUBLE) / nd, 6) AS doc_share,
           round(CAST(t_44 AS DOUBLE) / nt, 6) AS token_share
         FROM a
         UNION ALL
         SELECT CAST(0.47 AS DOUBLE) AS threshold, d_47 AS docs_kept,
           t_47 AS tokens_kept,
           round(CAST(d_47 AS DOUBLE) / nd, 6) AS doc_share,
           round(CAST(t_47 AS DOUBLE) / nt, 6) AS token_share
         FROM a
         UNION ALL
         SELECT CAST(0.5 AS DOUBLE) AS threshold, d_50 AS docs_kept,
           t_50 AS tokens_kept,
           round(CAST(d_50 AS DOUBLE) / nd, 6) AS doc_share,
           round(CAST(t_50 AS DOUBLE) / nt, 6) AS token_share
         FROM a
         UNION ALL
         SELECT CAST(0.53 AS DOUBLE) AS threshold, d_53 AS docs_kept,
           t_53 AS tokens_kept,
           round(CAST(d_53 AS DOUBLE) / nd, 6) AS doc_share,
           round(CAST(t_53 AS DOUBLE) / nt, 6) AS token_share
         FROM a
         UNION ALL
         SELECT CAST(0.56 AS DOUBLE) AS threshold, d_56 AS docs_kept,
           t_56 AS tokens_kept,
           round(CAST(d_56 AS DOUBLE) / nd, 6) AS doc_share,
           round(CAST(t_56 AS DOUBLE) / nt, 6) AS token_share
         FROM a
         UNION ALL
         SELECT CAST(0.59 AS DOUBLE) AS threshold, d_59 AS docs_kept,
           t_59 AS tokens_kept,
           round(CAST(d_59 AS DOUBLE) / nd, 6) AS doc_share,
           round(CAST(t_59 AS DOUBLE) / nt, 6) AS token_share
         FROM a
         UNION ALL
         SELECT CAST(0.62 AS DOUBLE) AS threshold, d_62 AS docs_kept,
           t_62 AS tokens_kept,
           round(CAST(d_62 AS DOUBLE) / nd, 6) AS doc_share,
           round(CAST(t_62 AS DOUBLE) / nt, 6) AS token_share
         FROM a""",
    "tx_quality" ->
      """SELECT doc_id,
           round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text), 6)
             AS alpha_ratio,
           round(len(list_filter(string_split(text,' '), x -> x IN ('the','a')))
                 / len(string_split(text,' ')), 6) AS stop_ratio,
           round(least(1.0, len(string_split(text,' ')) / 100.0), 6) AS len_sat,
           round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) * 0.5
               + len(list_filter(string_split(text,' '), x -> x IN ('the','a')))
                 / len(string_split(text,' ')) * 0.3
               + least(1.0, len(string_split(text,' ')) / 100.0) * 0.2, 6)
             AS quality_score
         FROM documents""",
    "tx_langid" ->
      """SELECT doc_id, s_sql, s_perf, s_data, s_en,
           CASE WHEN s_sql >= s_perf AND s_sql >= s_data AND s_sql >= s_en THEN 'sql'
                WHEN s_perf >= s_data AND s_perf >= s_en THEN 'perf'
                WHEN s_data >= s_en THEN 'data'
                ELSE 'en' END AS pred_lang
         FROM (SELECT doc_id,
           CAST(len(list_filter(string_split(text,' '),
             x -> x IN ('table','query','join','row','column','key'))) AS INTEGER) AS s_sql,
           CAST(len(list_filter(string_split(text,' '),
             x -> x IN ('fast','slow','big','small','scan','sort'))) AS INTEGER) AS s_perf,
           CAST(len(list_filter(string_split(text,' '),
             x -> x IN ('data','stream','batch','vector','value','hash'))) AS INTEGER) AS s_data,
           CAST(len(list_filter(string_split(text,' '),
             x -> x IN ('the','a'))) AS INTEGER) AS s_en
           FROM documents)""",
    "tx_fingerprint" ->
      """SELECT doc_id,
           md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp_md5
         FROM documents""",
    "tx_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         SELECT doc_id,
           round(1.0 - len(list_distinct(t)) / len(t), 6) AS dup_word_ratio,
           CASE WHEN len(t) >= 2 THEN
             round(1.0 - len(list_distinct(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i+1]))) / (len(t) - 1), 6)
           ELSE 0.0 END AS dup_2gram_ratio
         FROM toks""",
    "tx_normalize" ->
      """SELECT doc_id,
           length(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_chars_norm,
           md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp_norm
         FROM documents""",
    "tx_hash_split" ->
      """SELECT doc_id,
           CASE WHEN substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))),
                  1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))),
                  1, 1) <= 'd' THEN 'val'
                ELSE 'test' END AS split
         FROM documents""",
    "pipe_curate" ->
      """WITH m AS (SELECT doc_id,
           round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) * 0.5
             + len(list_filter(string_split(text,' '), x -> x IN ('the','a')))
               / len(string_split(text,' ')) * 0.3
             + least(1.0, len(string_split(text,' ')) / 100.0) * 0.2, 6)
             AS quality_score,
           round(1.0 - len(list_distinct(string_split(text,' ')))
               / len(string_split(text,' ')), 6) AS dup_word_ratio,
           md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp_norm,
           CASE WHEN substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))),
                  1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))),
                  1, 1) <= 'd' THEN 'val'
                ELSE 'test' END AS split
           FROM documents),
         f AS (SELECT * FROM m
               WHERE quality_score >= 0.47 AND dup_word_ratio <= 0.6),
         k AS (SELECT doc_id, split, quality_score,
               row_number() OVER (PARTITION BY fp_norm ORDER BY doc_id) AS rn
               FROM f)
         SELECT doc_id, split, quality_score FROM k WHERE rn = 1""",
    "tx_hash_features" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         h AS (SELECT doc_id, md5(t) AS hh FROM tok),
         f AS (SELECT doc_id,
             ((strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1))
               % 1024 AS idx,
             CASE WHEN substr(hh, 5, 1) < '8' THEN 1 ELSE -1 END AS s
           FROM h)
         SELECT doc_id, idx, CAST(sum(s) AS BIGINT) AS v
         FROM f GROUP BY 1, 2 HAVING sum(s) <> 0""",
    "pipe_e2e" ->
      """WITH corpus AS (SELECT * FROM documents WHERE source <> 'src0'),
         fp AS (SELECT doc_id,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS f
           FROM corpus),
         keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         d1 AS (SELECT c.* FROM corpus c JOIN keep USING (doc_id)),
         bench AS (
           SELECT DISTINCT s AS shingle FROM (
             SELECT unnest(list_transform(range(1, len(t)-3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                 || t[i+3] || ' ' || t[i+4])) AS s
             FROM (SELECT string_split(text, ' ') AS t FROM documents
                   WHERE source = 'src0') WHERE len(t) >= 5)),
         docsh AS (
           SELECT DISTINCT doc_id, s AS shingle FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(t)-3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                 || t[i+3] || ' ' || t[i+4])) AS s
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM d1)
             WHERE len(t) >= 5)),
         flagged AS (
           SELECT doc_id FROM docsh JOIN bench USING (shingle)
           GROUP BY doc_id HAVING count(*) >= 10),
         d2 AS (SELECT * FROM d1
           WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         d3 AS (SELECT doc_id FROM d2
           WHERE round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                   / length(text) * 0.5
                 + len(list_filter(string_split(text,' '),
                     x -> x IN ('the','a')))
                   / len(string_split(text,' ')) * 0.3
                 + least(1.0, len(string_split(text,' ')) / 100.0) * 0.2, 6)
                 >= 0.47
             AND round(1.0 - len(list_distinct(string_split(text,' ')))
                   / len(string_split(text,' ')), 6) <= 0.6),
         s AS (SELECT doc_id,
             CASE WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 2)
                    < 'cd' THEN 'train'
                  WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 2)
                    < 'e6' THEN 'val'
                  ELSE 'test' END AS split
           FROM d3)
         SELECT 0 AS stage_ord, 'ingest' AS stage, count(*) AS n_rows
           FROM corpus
         UNION ALL SELECT 1, 'exact_dedup', count(*) FROM d1
         UNION ALL SELECT 2, 'decontaminate', count(*) FROM d2
         UNION ALL SELECT 3, 'quality', count(*) FROM d3
         UNION ALL SELECT CASE split WHEN 'train' THEN 4
             WHEN 'val' THEN 5 ELSE 6 END, split, count(*)
           FROM s GROUP BY split""",
    "pipe_split" ->
      """SELECT doc_id,
           CASE WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 2)
                  < 'cd' THEN 'train'
                WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 2)
                  < 'e6' THEN 'val'
                ELSE 'test' END AS split
         FROM documents""",
    "dq_dp_release" ->
      """WITH g AS (SELECT event_type, count(*) AS n FROM events
           GROUP BY 1),
         h AS (SELECT event_type, n,
             md5('dp:r1:' || event_type) AS hh FROM g),
         v AS (SELECT event_type, n,
             ((strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1)
              + 0.5) / 65536.0 AS u
           FROM h)
         SELECT event_type,
           round(greatest(n + (-(1.0 / 0.5) * sign(u - 0.5)
             * ln(1 - 2 * abs(u - 0.5))), 0.0), 4) AS noisy_n,
           CAST(0.5 AS DOUBLE) AS epsilon
         FROM v""",
    "dq_k_anonymity" ->
      """WITH g AS (SELECT lang, source, n_chars // 50 AS len_bucket,
             count(*) AS n
           FROM documents GROUP BY 1, 2, 3)
         SELECT count(*) AS n_groups, min(n) AS anonymity_k,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS rows_at_risk
         FROM g""",
    "q32_dpp_join" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
           round(sum(value), 2) AS sum_value
         FROM events
         WHERE (datepart('day', ts) - 1) // 7 = 0
         GROUP BY 1""",
    "q33_runtime_filter" ->
      """WITH r AS (SELECT l_orderkey,
             sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(18,4))) AS order_revenue
           FROM lineitem GROUP BY 1)
         SELECT count(*) AS n_orders, sum(order_revenue) AS revenue
         FROM r JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'""",
    "st_impute" ->
      """WITH m AS (SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS med
           FROM events WHERE value IS NOT NULL GROUP BY 1)
         SELECT event_id, e.event_type, value,
           round(coalesce(value, med), 6) AS value_filled,
           value IS NULL AS was_null
         FROM events e LEFT JOIN m ON e.event_type = m.event_type""",
    "dq_skew" ->
      """WITH c AS (SELECT l_suppkey, count(*) AS n FROM lineitem
           GROUP BY 1),
         s AS (SELECT quantile_cont(n, 0.5) AS med, sum(n) AS total FROM c)
         SELECT l_suppkey, n, round(n / total, 6) AS share,
           round(n / med, 2) AS x_median
         FROM c CROSS JOIN s
         ORDER BY n DESC, l_suppkey LIMIT 10""",
    "st_moments_merge" ->
      """WITH p AS (SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(30,6))) AS s1,
             sum(CAST(value * value AS DECIMAL(30,6))) AS s2
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
         SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
           round(CAST(sum(s1) AS DOUBLE) / sum(n), 6) AS mean,
           round(sqrt((CAST(sum(s2) AS DOUBLE)
             - CAST(sum(s1) AS DOUBLE) * CAST(sum(s1) AS DOUBLE) / sum(n))
             / (sum(n) - 1)), 6) AS std
         FROM p GROUP BY 1""",
    "st_runs" ->
      """WITH hourly AS (SELECT epoch_us(date_trunc('hour', ts))
               // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         med AS (SELECT round(quantile_cont(v,
             CAST(1 AS DOUBLE)/2), 6) AS m FROM hourly),
         signed AS (SELECT hr, v > m AS up
           FROM hourly CROSS JOIN med WHERE v <> m),
         runs AS (SELECT up,
             CASE WHEN lag(up) OVER (ORDER BY hr) IS NULL
               OR up <> lag(up) OVER (ORDER BY hr)
               THEN 1 ELSE 0 END AS nw
           FROM signed),
         s AS (SELECT CAST(sum(nw) AS BIGINT) AS r,
             CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2
           FROM runs)
         SELECT r, n1, n2,
           round(2.0 * n1 * n2 / (n1 + n2) + 1.0, 4) AS expected_r,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
             sqrt((2.0 * n1 * n2 / (n1 + n2))
               * (2.0 * n1 * n2 / (n1 + n2) - 1.0) / (n1 + n2 - 1.0)),
             4) AS z
         FROM s""",
    "st_odds_ratio" ->
      """WITH cells AS (SELECT
             CAST(sum(CASE WHEN dayofweek(ts) + 1 IN (1, 7)
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN dayofweek(ts) + 1 IN (1, 7)
               AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN dayofweek(ts) + 1 NOT IN (1, 7)
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN dayofweek(ts) + 1 NOT IN (1, 7)
               AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM events)
         SELECT a, b, c, d,
           CASE WHEN a*b*c*d = 0 THEN NULL
             ELSE round((a * d) / CAST(b * c AS DOUBLE), 4) END AS odds_ratio,
           CASE WHEN a*b*c*d = 0 THEN NULL
             ELSE round(exp(ln((a * d) / CAST(b * c AS DOUBLE))
               - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4)
             END AS or_lo,
           CASE WHEN a*b*c*d = 0 THEN NULL
             ELSE round(exp(ln((a * d) / CAST(b * c AS DOUBLE))
               + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 4)
             END AS or_hi,
           CASE WHEN a*b*c*d = 0 THEN NULL
             ELSE round((a / CAST(a + b AS DOUBLE))
               / (c / CAST(c + d AS DOUBLE)), 4) END AS relative_risk
         FROM cells""",
    "st_mcnemar" ->
      """WITH f AS (SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND day(ts) <= 7
               THEN 1 ELSE 0 END) AS fa,
             max(CASE WHEN event_type = 'purchase' AND day(ts) >= 22
               THEN 1 ELSE 0 END) AS fb
           FROM events GROUP BY 1
           HAVING max(CASE WHEN event_type = 'purchase' AND day(ts) <= 7
               THEN 1 ELSE 0 END) = 1
             OR max(CASE WHEN event_type = 'purchase' AND day(ts) >= 22
               THEN 1 ELSE 0 END) = 1),
         s AS (SELECT
             CAST(sum(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS b,
             CAST(sum(CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n_units
           FROM f)
         SELECT n_units, b, c,
           round(pow(b - c, 2) / (b + c), 4) AS chi2,
           round(pow(abs(b - c) - 1, 2) / (b + c), 4) AS chi2_cc
         FROM s""",
    "st_wilcoxon" ->
      """WITH pr AS (SELECT user_id,
             avg(CASE WHEN event_type = 'click' THEN value END) AS ma,
             avg(CASE WHEN event_type = 'view' THEN value END) AS mb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         dd AS (SELECT round(ma - mb, 6) AS d FROM pr
           WHERE ma IS NOT NULL AND mb IS NOT NULL
             AND round(ma - mb, 6) <> 0),
         pts AS (SELECT abs(d) AS v,
             CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
           FROM dd GROUP BY 1),
         c AS (SELECT ca, cb, ca + cb AS t,
             CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
           FROM pts),
         s AS (SELECT
             CAST(sum(ca * (2*below + t + 1)) AS BIGINT) AS r1x2,
             CAST(sum(t*t*t - t) AS BIGINT) AS ties,
             CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS na,
             CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS nb
           FROM c)
         SELECT r1x2 / 2.0 AS w_plus,
           round((r1x2 / 2.0
               - (na + nb) * (na + nb + 1.0) / 4.0) /
             sqrt((na + nb) * (na + nb + 1.0) * (2.0*(na + nb) + 1) / 24.0
               - ties / 48.0), 4) AS z,
           na AS n_pos, nb AS n_neg
         FROM s""",
    "st_quantile_merge" ->
      """WITH p AS (SELECT CAST(ts AS DATE) AS day,
             CAST(least(49, greatest(0,
               floor((value - 0.0) / 500.0 * 50))) AS INT) AS bucket,
             count(*) AS n
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         g AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS n
               FROM p GROUP BY 1),
         c AS (SELECT bucket, n,
             CAST(coalesce(sum(n) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
           FROM g),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g),
         qs AS (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.9] AS DOUBLE[])) AS q)
         SELECT q, round(0.0 + (bucket + (q * nt - below) / n)
             * (500.0 / 50), 6) AS est
         FROM qs CROSS JOIN t
         JOIN c ON below < q * nt AND q * nt <= below + n""",
    "st_logreg_gd" ->
      """WITH d AS (SELECT CAST(embedding[1] AS DOUBLE) AS x1,
             CAST(embedding[2] AS DOUBLE) AS x2,
             CAST(embedding[3] AS DOUBLE) AS x3,
             CASE WHEN CAST(embedding[1] AS DOUBLE)
                + CAST(embedding[2] AS DOUBLE) > 0
               THEN 1.0 ELSE 0.0 END AS y
           FROM embeddings),
         i0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c, 0.0 AS e),
         -- 3 unrolled GD steps; i<k> mirrors the Spark loop state
         -- after step k exactly (same start, same lr, same averages)
         g1 AS (SELECT
             avg(1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y) AS ga,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x1) AS gb,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x2) AS gc,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x3) AS ge
           FROM d CROSS JOIN i0 w),
         i1 AS (SELECT w.a - g.ga AS a, w.b - g.gb AS b, w.c - g.gc AS c,
             w.e - g.ge AS e FROM i0 w CROSS JOIN g1 g),
         g2 AS (SELECT
             avg(1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y) AS ga,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x1) AS gb,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x2) AS gc,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x3) AS ge
           FROM d CROSS JOIN i1 w),
         i2 AS (SELECT w.a - g.ga AS a, w.b - g.gb AS b, w.c - g.gc AS c,
             w.e - g.ge AS e FROM i1 w CROSS JOIN g2 g),
         g3 AS (SELECT
             avg(1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y) AS ga,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x1) AS gb,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x2) AS gc,
             avg((1/(1+exp(-(w.a + w.b*x1 + w.c*x2 + w.e*x3))) - y)*x3) AS ge
           FROM d CROSS JOIN i2 w),
         i3 AS (SELECT w.a - g.ga AS a, w.b - g.gb AS b, w.c - g.gc AS c,
             w.e - g.ge AS e FROM i2 w CROSS JOIN g3 g)
         SELECT (SELECT count(*) FROM d) AS n,
           (SELECT round(avg(CASE WHEN (CASE WHEN
               w.a + w.b*x1 + w.c*x2 + w.e*x3 >= 0 THEN 1.0 ELSE 0.0 END) = y
               THEN 1.0 ELSE 0.0 END), 6) FROM d CROSS JOIN i3 w)
             AS accuracy,
           round(a, 6) AS w0, round(b, 6) AS w1, round(c, 6) AS w2,
           round(e, 6) AS w3
         FROM i3""",
    "pipe_pack" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))),
                  1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))),
                  1, 1) <= 'd' THEN 'val'
                ELSE 'test' END AS split,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, split, n_tokens,
           sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS cum_tokens
           FROM t)
         SELECT doc_id, split, n_tokens,
           CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS chunk_id,
           CAST((cum_tokens - n_tokens) % 2048 AS BIGINT) AS chunk_offset
         FROM c""",
    "pipe_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         n AS (SELECT doc_id, t, len(t) AS n FROM t WHERE len(t) > 0),
         s AS (SELECT doc_id, t, n, unnest(range(0, n, 40)) AS s FROM n)
         SELECT doc_id, CAST(s // 40 AS BIGINT) AS chunk_id,
           CAST(len(t[s+1 : least(s+50, n)]) AS INTEGER) AS chunk_tokens,
           array_to_string(t[s+1 : least(s+50, n)], ' ') AS chunk_text
         FROM s""",
    "dd_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_distinct,
           count(*) - count(DISTINCT fp) AS n_dup_docs
         FROM (SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
               FROM documents)""",
    "dd_dup_by_source" ->
      """WITH fp AS (SELECT source,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS f
           FROM documents),
         g AS (SELECT f, source, count(*) AS c FROM fp GROUP BY 1, 2),
         t AS (SELECT f, source, c, sum(c) OVER (PARTITION BY f) AS tot
           FROM g)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN tot > 1 THEN c ELSE 0 END) AS BIGINT)
             AS n_in_dup_groups,
           round(sum(CASE WHEN tot > 1 THEN c ELSE 0 END) / sum(c), 6)
             AS dup_rate
         FROM t GROUP BY 1""",
    "dd_fuzzy" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    "dd_drop_exact" ->
      """WITH fp AS (SELECT doc_id,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS f
           FROM documents),
         k AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f)
         SELECT k.keep_id, d.n_chars FROM k JOIN documents d ON d.doc_id = k.keep_id""",
    "dd_dupspans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
             i -> {'pos': i - 1, 'gram':
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
               || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]}))
             AS z
           FROM toks WHERE len(t) >= 8),
         grams AS (SELECT doc_id, z.pos AS pos, z.gram AS gram FROM g),
         dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1),
         hits AS (SELECT gr.doc_id, gr.pos FROM grams gr
           JOIN dup ON gr.gram = dup.gram),
         brk AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER
               (PARTITION BY doc_id ORDER BY pos) <= 8
               THEN 0 ELSE 1 END AS b
           FROM hits),
         grp AS (SELECT doc_id, pos, sum(b) OVER
             (PARTITION BY doc_id ORDER BY pos) AS isl
           FROM brk)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS n_tokens
         FROM grp GROUP BY doc_id, isl""",
    "dd_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM toks WHERE len(t) >= 3)),
         hotsh AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
         shk AS (SELECT doc_id, s FROM sh ANTI JOIN hotsh USING (s)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT d1, d2, shared,
           round(shared / (x.n_sh + y.n_sh - shared), 6) AS jaccard
         FROM p JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         WHERE round(shared / (x.n_sh + y.n_sh - shared), 6) >= 0.2""",
    "pipe_dedup_curve" ->
      """WITH th AS (SELECT CAST(threshold AS DOUBLE) AS threshold
           FROM (VALUES (0.1), (0.2), (0.3), (0.5), (0.7)) t(threshold)),
         toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM toks WHERE len(t) >= 3)),
         hotsh AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
         shk AS (SELECT doc_id, s FROM sh ANTI JOIN hotsh USING (s)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
         p0 AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
             count(*) AS shared
           FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         p AS (SELECT d1, d2,
             round(shared / (x.n_sh + y.n_sh - shared), 6) AS j
           FROM p0 JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
           WHERE round(shared / (x.n_sh + y.n_sh - shared), 6) >= 0.1),
         np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
           FROM p JOIN th ON j >= threshold GROUP BY 1),
         tokc AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         mj AS (SELECT d2 AS doc_id, max(j) AS mj FROM p GROUP BY 1),
         dr AS (SELECT threshold,
             CAST(count(*) AS BIGINT) AS docs_dropped,
             CAST(sum(ntok) AS BIGINT) AS tokens_dropped
           FROM mj JOIN tokc USING (doc_id) JOIN th ON mj >= threshold
           GROUP BY 1),
         tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS tot_tok FROM tokc)
         SELECT th.threshold, coalesce(np.n_pairs, 0) AS n_pairs,
           coalesce(dr.docs_dropped, 0) AS docs_dropped,
           coalesce(dr.tokens_dropped, 0) AS tokens_dropped,
           round(CAST(tot_tok - coalesce(dr.tokens_dropped, 0) AS DOUBLE)
             / tot_tok, 6) AS kept_token_share
         FROM th LEFT JOIN np USING (threshold)
         LEFT JOIN dr USING (threshold) CROSS JOIN tot""",
    "dd_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM toks WHERE len(t) >= 3)),
         hotsh AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
         shk AS (SELECT doc_id, s FROM sh ANTI JOIN hotsh USING (s)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT d1, d2, shared,
           round(shared / x.n_sh, 6) AS cont_1_in_2,
           round(shared / y.n_sh, 6) AS cont_2_in_1
         FROM p JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         WHERE round(shared / x.n_sh, 6) >= 0.5
            OR round(shared / y.n_sh, 6) >= 0.5""",
    "dd_cluster" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM toks WHERE len(t) >= 3)),
         hotsh AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
         shk AS (SELECT doc_id, s FROM sh ANTI JOIN hotsh USING (s)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         pairs AS (
           SELECT d1, d2 FROM p JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
           WHERE round(shared / (x.n_sh + y.n_sh - shared), 6) >= 0.2),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION ALL SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         FROM reach GROUP BY a""",
    "dd_keep_canonical" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM toks WHERE len(t) >= 3)),
         hotsh AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
         shk AS (SELECT doc_id, s FROM sh ANTI JOIN hotsh USING (s)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         pairs AS (
           SELECT d1, d2 FROM p JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
           WHERE round(shared / (x.n_sh + y.n_sh - shared), 6) >= 0.2),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION ALL SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                      FROM reach GROUP BY a),
         q AS (SELECT doc_id,
             round(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) * 0.5
               + len(list_filter(string_split(text,' '), x -> x IN ('the','a')))
                 / len(string_split(text,' ')) * 0.3
               + least(1.0, len(string_split(text,' ')) / 100.0) * 0.2, 6)
               AS quality_score
           FROM documents),
         ranked AS (SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.cluster_id
               ORDER BY q.quality_score DESC, c.doc_id) AS rn
           FROM clusters c JOIN q ON c.doc_id = q.doc_id),
         drops AS (SELECT doc_id FROM ranked WHERE rn > 1)
         SELECT d.doc_id, d.n_chars FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)""",
    "dd_reweight" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM toks WHERE len(t) >= 3)),
         hotsh AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
         shk AS (SELECT doc_id, s FROM sh ANTI JOIN hotsh USING (s)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM shk GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         pairs AS (
           SELECT d1, d2 FROM p JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
           WHERE round(shared / (x.n_sh + y.n_sh - shared), 6) >= 0.2),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION ALL SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                      FROM reach GROUP BY a),
         cs AS (SELECT cluster_id, count(*) AS cluster_size
                FROM clusters GROUP BY 1),
         lab AS (SELECT doc_id, cluster_size
                 FROM clusters JOIN cs USING (cluster_id))
         SELECT d.doc_id, coalesce(cluster_size, 1) AS cluster_size,
           round(1.0 / coalesce(cluster_size, 1), 6) AS weight
         FROM documents d LEFT JOIN lab USING (doc_id)""",
    "tx_vocab" ->
      """SELECT gram, count(*) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS gram FROM documents)
         GROUP BY gram ORDER BY freq DESC, gram LIMIT 20""",
    "tx_unigram_ce" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY 1, 2),
         model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c
                   FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                   count(*) AS v FROM model)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * -ln((c + 0.5) / (n_total + 0.5 * v))) / sum(tf), 6)
             AS ce
         FROM tf JOIN model USING (term) CROSS JOIN tot
         GROUP BY doc_id""",
    "tx_bigram_ce" ->
      """WITH bg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM (
             SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
               unnest(t[2:len(t)]) AS w2
             FROM (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents)
             WHERE len(t) >= 2)
           GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2
                FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         v AS (SELECT count(DISTINCT term) AS v FROM (
             SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
         j AS (SELECT doc_id, tf, -ln((c2 + 1.0) / (c1 + v)) AS nlp
               FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
               CROSS JOIN v)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           round(sum(tf * nlp) / sum(tf), 6) AS ce
         FROM j GROUP BY doc_id""",
    "tx_next_token" ->
      """WITH bg AS (SELECT w1, w2, count(*) AS n FROM (
             SELECT unnest(t[1:len(t)-1]) AS w1,
               unnest(t[2:len(t)]) AS w2
             FROM (SELECT string_split(text, ' ') AS t FROM documents)
             WHERE len(t) >= 2)
           GROUP BY 1, 2),
         c AS (SELECT w1, w2, CAST(n AS BIGINT) AS n,
             CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS ctx_n,
             CAST(row_number() OVER (PARTITION BY w1
               ORDER BY n DESC, w2) AS INTEGER) AS rank
           FROM bg)
         SELECT w1, rank, w2, n, round(n / CAST(ctx_n AS DOUBLE), 6) AS p
         FROM c WHERE ctx_n >= 20 AND rank <= 3""",
    "tx_perplexity" ->
      """WITH bg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM (
             SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
               unnest(t[2:len(t)]) AS w2
             FROM (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents)
             WHERE len(t) >= 2)
           GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2
                FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         v AS (SELECT count(DISTINCT term) AS v FROM (
             SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
         j AS (SELECT doc_id, tf, -ln((c2 + 1.0) / (c1 + v)) AS nlp
               FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
               CROSS JOIN v),
         ce AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             round(sum(tf * nlp) / sum(tf), 6) AS ce
           FROM j GROUP BY doc_id),
         f AS (SELECT round(quantile_cont(ce, CAST(1 AS DOUBLE)/3), 6) AS f1,
             round(quantile_cont(ce, CAST(2 AS DOUBLE)/3), 6) AS f2
           FROM ce)
         SELECT doc_id, n_bigrams, ce, round(exp(ce), 4) AS ppl,
           CASE WHEN ce <= f1 THEN 'head'
                WHEN ce <= f2 THEN 'middle' ELSE 'tail' END AS band
         FROM ce CROSS JOIN f""",
    "st_mwu" ->
      """WITH pts AS (SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY value),
         c AS (SELECT ca, cb, ca + cb AS t,
             CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
           FROM pts),
         s AS (SELECT
             CAST(sum(ca * (2*below + t + 1)) AS BIGINT) AS r1x2,
             CAST(sum(t*t*t - t) AS BIGINT) AS ties,
             CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS na,
             CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS nb
           FROM c)
         SELECT (r1x2 - na*(na+1)) / 2.0 AS u_stat,
           round(((r1x2 - na*(na+1)) / 2.0 - na*nb/2.0) /
             sqrt(na*nb/12.0 * ((na+nb+1) - ties / (na+nb) / (na+nb-1.0))),
             4) AS z,
           na AS n_a, nb AS n_b
         FROM s""",
    "st_auc" ->
      """WITH pts AS (SELECT n_chars AS v,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM documents WHERE lang IN ('en', 'fr')
           GROUP BY n_chars),
         c AS (SELECT ca, cb, ca + cb AS t,
             CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
           FROM pts),
         s AS (SELECT
             CAST(sum(ca * (2*below + t + 1)) AS BIGINT) AS r1x2,
             CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS na,
             CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS nb
           FROM c)
         SELECT round(((r1x2 - na*(na+1)) / 2.0) / (na * nb), 6) AS auc,
           na AS n_pos, nb AS n_neg
         FROM s""",
    "st_kruskal" ->
      """WITH rows0 AS (SELECT event_type AS g, value AS v FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL),
         cnt AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
           FROM rows0 GROUP BY 1, 2),
         pts AS (SELECT v, CAST(sum(c) AS BIGINT) AS t
           FROM cnt GROUP BY 1),
         r AS (SELECT v, t, CAST(coalesce(sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS below
           FROM pts),
         rk AS (SELECT v, below + (t + 1) / 2.0 AS mr FROM r),
         gs AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
             sum(c * mr) AS rsum
           FROM cnt JOIN rk USING (v) GROUP BY 1),
         tie AS (SELECT CAST(sum(t*t*t - t) AS BIGINT) AS ties FROM pts),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k,
             sum(rsum * rsum / n) AS rr
           FROM gs),
         f AS (SELECT k, nt, rr, ties, CAST(nt AS DOUBLE) AS ntd
           FROM tot CROSS JOIN tie)
         SELECT k, nt AS n,
           round(12.0 / (ntd * (ntd + 1.0)) * rr - 3.0 * (ntd + 1.0), 4)
             AS h,
           round((12.0 / (ntd * (ntd + 1.0)) * rr - 3.0 * (ntd + 1.0)) /
             nullif(1.0 - CAST(ties AS DOUBLE) /
               (ntd * ntd * ntd - ntd), 0), 4) AS h_adj,
           ties
         FROM f""",
    "st_kendall" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         p AS (SELECT sign(b.x - a.x) AS dx, sign(b.y - a.y) AS dy
           FROM hourly a JOIN hourly b ON a.hr < b.hr),
         s AS (SELECT
             CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
             CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nd,
             CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tx,
             CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ty,
             CAST(count(*) AS BIGINT) AS n0
           FROM p)
         SELECT nc, nd, n0,
           round((nc - nd) / nullif(sqrt(CAST(n0 - tx AS DOUBLE) *
             CAST(n0 - ty AS DOUBLE)), 0), 6) AS tau_b
         FROM s""",
    "st_ols2" ->
      """WITH z AS (SELECT
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS yy,
             CAST(round(l_quantity * 100) AS HUGEINT) AS a,
             CAST(round(l_discount * 100) AS HUGEINT) AS b
           FROM lineitem),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(a) AS sa, sum(b) AS sb, sum(yy) AS sy,
             sum(a * a) AS saa, sum(a * b) AS sab, sum(b * b) AS sbb,
             sum(a * yy) AS say, sum(b * yy) AS sby,
             sum(yy * yy) AS syy
           FROM z),
         d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(sa AS DOUBLE) AS sa, CAST(sb AS DOUBLE) AS sb,
             CAST(sy AS DOUBLE) AS sy, CAST(saa AS DOUBLE) AS saa,
             CAST(sab AS DOUBLE) AS sab, CAST(sbb AS DOUBLE) AS sbb,
             CAST(say AS DOUBLE) AS say, CAST(sby AS DOUBLE) AS sby,
             CAST(syy AS DOUBLE) AS syy
           FROM s),
         c AS (SELECT n, nd, sy, say, sby, syy,
             nd * (saa * sbb - sab * sab) - sa * (sa * sbb - sab * sb)
               + sb * (sa * sab - saa * sb) AS det,
             sy * (saa * sbb - sab * sab) - sa * (say * sbb - sab * sby)
               + sb * (say * sab - saa * sby) AS d0,
             nd * (say * sbb - sab * sby) - sy * (sa * sbb - sab * sb)
               + sb * (sa * sby - say * sb) AS d1,
             nd * (saa * sby - say * sab) - sa * (sa * sby - say * sb)
               + sy * (sa * sab - saa * sb) AS d2
           FROM d),
         b AS (SELECT n, nd, sy, say, sby, syy,
             d0 / det AS a0, d1 / det AS b1, d2 / det AS b2
           FROM c)
         SELECT n, round(a0 / 100.0, 6) AS intercept,
           round(b1, 6) AS b1, round(b2, 6) AS b2,
           round(1.0 - (syy - a0 * sy - b1 * say - b2 * sby) /
             nullif(syy - sy * sy / nd, 0), 6) AS r2
         FROM b""",
    "st_km" ->
      """WITH pu AS (SELECT user_id,
             CAST(min(epoch_us(ts)) AS BIGINT) AS f,
             CAST(max(epoch_us(ts)) AS BIGINT) AS l
           FROM events GROUP BY 1),
         g AS (SELECT max(l) AS gmax FROM pu),
         lt AS (SELECT CAST((l - f) // 86400000000 AS BIGINT) AS dur,
             gmax - l >= 14 * 86400000000 AS ev
           FROM pu CROSS JOIN g),
         tbl AS (SELECT dur,
             CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
           FROM lt GROUP BY 1),
         tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS nt FROM tbl),
         rt AS (SELECT dur, d, c,
             nt - CAST(coalesce(sum(d + c) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
           FROM tbl CROSS JOIN tot)
         SELECT dur AS dur_days, n_risk, d, c,
           round(CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
             THEN 0.0
             ELSE exp(sum(CASE WHEN d = n_risk THEN 0.0
                 ELSE ln(1.0 - CAST(d AS DOUBLE) / n_risk) END)
               OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             END, 4) AS survival
         FROM rt""",
    "dwh_bridge" ->
      """WITH bridge AS (SELECT l_orderkey, l_partkey,
             CAST(count(*) OVER (PARTITION BY l_orderkey) AS BIGINT)
               AS n_parts
           FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
         f AS (SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS HUGEINT) AS cents
           FROM orders),
         j AS (SELECT p.p_brand, b.n_parts,
             CAST(sum(cents) AS HUGEINT) AS c
           FROM f
           JOIN bridge b ON o_orderkey = l_orderkey
           JOIN part p ON p.p_partkey = b.l_partkey
           GROUP BY 1, 2)
         SELECT p_brand,
           floor(sum(CAST(c AS DOUBLE) / n_parts) + 0.5) / 100.0
             AS allocated_revenue
         FROM j GROUP BY 1""",
    "dwh_late_arriving" ->
      """WITH f AS (SELECT o_custkey AS k,
             CAST(count(*) AS BIGINT) AS n_facts,
             CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT))
               AS HUGEINT) AS cents
           FROM orders GROUP BY 1),
         d AS (SELECT DISTINCT c_custkey FROM customer
           WHERE c_custkey % 10 <> 0),
         l AS (SELECT DISTINCT c_custkey FROM customer
           WHERE c_custkey % 20 = 0),
         s AS (SELECT f.n_facts, f.cents,
             CASE WHEN d.c_custkey IS NOT NULL THEN 'on_time'
                  WHEN l.c_custkey IS NOT NULL THEN 'resolved'
                  ELSE 'inferred_only' END AS status
           FROM f LEFT JOIN d ON f.k = d.c_custkey
                  LEFT JOIN l ON f.k = l.c_custkey)
         SELECT status, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(n_facts) AS BIGINT) AS n_facts,
           round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue
         FROM s GROUP BY 1""",
    "dwh_drill_across" ->
      """WITH r AS (SELECT o_custkey AS k1,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT))
               AS HUGEINT) AS cents
           FROM orders GROUP BY 1),
         e AS (SELECT user_id AS k2,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS HUGEINT))
               AS HUGEINT) AS vcents
           FROM events GROUP BY 1)
         SELECT coalesce(k1, k2) AS cust_key,
           coalesce(n_orders, 0) AS n_orders,
           round(CAST(coalesce(cents, 0) AS DOUBLE) / 100.0, 2)
             AS revenue,
           coalesce(n_events, 0) AS n_events,
           round(CAST(coalesce(vcents, 0) AS DOUBLE) / 100.0, 2)
             AS engagement
         FROM r FULL OUTER JOIN e ON k1 = k2""",
    "dwh_accumulating" ->
      """WITH b AS (SELECT user_id,
             CAST(min(CASE WHEN event_type = 'signup'
               THEN epoch_us(ts) END) AS BIGINT) AS signup_us,
             CAST(min(CASE WHEN event_type = 'click'
               THEN epoch_us(ts) END) AS BIGINT) AS click_us,
             CAST(min(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) AS BIGINT) AS purchase_us
           FROM events
           WHERE event_type IN ('signup', 'click', 'purchase')
           GROUP BY 1)
         SELECT user_id, signup_us, click_us, purchase_us,
           round((click_us - signup_us) / 86400000000.0, 4)
             AS days_signup_to_click,
           round((purchase_us - click_us) / 86400000000.0, 4)
             AS days_click_to_purchase
         FROM b""",
    "dwh_semi_additive" ->
      """WITH x AS (SELECT user_id,
             CAST(date_trunc('month', ts) AS DATE) AS month,
             CAST(epoch_us(ts) AS BIGINT) AS t,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         r AS (SELECT user_id, month, c,
             row_number() OVER (PARTITION BY user_id, month
               ORDER BY t DESC, c DESC) AS rn
           FROM x),
         lp AS (SELECT user_id, month, c AS cents FROM r WHERE rn = 1)
         SELECT month, CAST(count(*) AS BIGINT) AS n_accounts,
           round(sum(cents) / 100.0, 2) AS total_balance,
           round(avg(cents) / 100.0, 4) AS avg_balance
         FROM lp GROUP BY 1""",
    "st_avg_precision" ->
      """WITH pts AS (SELECT n_chars AS v,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS np,
             CAST(count(*) AS BIGINT) AS nt
           FROM documents WHERE n_chars IS NOT NULL
           GROUP BY 1),
         cum AS (SELECT np, nt,
             CAST(sum(np) OVER (ORDER BY v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cp,
             CAST(sum(nt) OVER (ORDER BY v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ct
           FROM pts),
         tot AS (SELECT CAST(sum(np) AS BIGINT) AS npos,
             CAST(sum(nt) AS BIGINT) AS ntot FROM pts)
         SELECT npos AS n_pos, ntot AS n_total,
           round(sum((np / CAST(npos AS DOUBLE)) *
             (cp / CAST(ct AS DOUBLE))), 6) AS average_precision
         FROM cum CROSS JOIN tot GROUP BY npos, ntot""",
    "st_skew_kurt" ->
      """WITH q AS (SELECT l_returnflag,
             CAST(CAST(round(l_quantity * 10000) AS BIGINT) AS HUGEINT)
               AS q
           FROM lineitem),
         g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             sum(q) AS s1, sum(q * q) AS s2,
             sum(q * q * q) AS s3, sum(q * q * q * q) AS s4
           FROM q GROUP BY 1),
         m AS (SELECT l_returnflag, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
           FROM g),
         c AS (SELECT l_returnflag, n,
             r2 - mu * mu AS m2,
             r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
             r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 -
               3.0 * mu * mu * mu * mu AS m4
           FROM m)
         SELECT l_returnflag, n,
           round(m3 / nullif(sqrt(m2 * m2 * m2), 0), 6) AS skew,
           round(m4 / nullif(m2 * m2, 0) - 3.0, 6) AS kurt
         FROM c""",
    "st_holm_battery" ->
      """WITH s AS (SELECT event_type, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM events GROUP BY 1),
         t AS (SELECT a.event_type AS group_a, b.event_type AS group_b,
             round((a.m - b.m) / sqrt(a.v/a.n + b.v/b.n), 4) AS t_stat
           FROM s a JOIN s b ON a.event_type < b.event_type),
         pz AS (SELECT group_a, group_b, t_stat, abs(t_stat) AS x,
             1.0 / (1.0 + 0.2316419 * abs(t_stat)) AS k
           FROM t),
         pv AS (SELECT group_a, group_b, t_stat,
             round(2.0 * (exp(-x * x / 2.0) * 0.3989422804014327) *
               (k * (0.319381530 + k * (-0.356563782 +
                k * (1.781477937 + k * (-1.821255978 +
                k * 1.330274429))))), 8) AS p
           FROM pz),
         rk AS (SELECT group_a, group_b, t_stat, p,
             CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(row_number() OVER (ORDER BY p, group_a, group_b)
               AS BIGINT) AS i
           FROM pv),
         adj AS (SELECT group_a, group_b, t_stat, p,
             round(max(least(1.0, p * (m - i + 1))) OVER (ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS p_adj
           FROM rk)
         SELECT group_a, group_b, t_stat, p, p_adj,
           p_adj <= 0.05 AS significant
         FROM adj""",
    "st_power" ->
      """WITH pu AS (SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value > 95.0
               THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY 1),
         armed AS (SELECT conv,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
               THEN 'A' ELSE 'B' END AS arm
           FROM pu),
         a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
           FROM armed GROUP BY 1),
         w AS (SELECT
             max(CASE WHEN arm = 'A' THEN n END) AS na,
             max(CASE WHEN arm = 'A' THEN k END) AS ka,
             max(CASE WHEN arm = 'B' THEN n END) AS nb,
             max(CASE WHEN arm = 'B' THEN k END) AS kb
           FROM a),
         f AS (SELECT na, nb,
             CAST(ka AS DOUBLE) / na AS pa,
             CAST(kb AS DOUBLE) / nb AS pb
           FROM w),
         g AS (SELECT na, nb, pa, pb, abs(pa - pb) AS delta,
             CAST(ceil(7.848878512225001 *
               (pa * (1.0 - pa) + pb * (1.0 - pb)) /
               nullif(abs(pa - pb) * abs(pa - pb), 0)) AS BIGINT) AS nreq
           FROM f)
         SELECT na, nb, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
           round(delta, 6) AS delta, nreq AS n_required_per_arm,
           least(na, nb) >= nreq AS powered
         FROM g""",
    "st_bh_battery" ->
      """WITH s AS (SELECT event_type, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM events GROUP BY 1),
         t AS (SELECT a.event_type AS group_a, b.event_type AS group_b,
             round((a.m - b.m) / sqrt(a.v/a.n + b.v/b.n), 4) AS t_stat
           FROM s a JOIN s b ON a.event_type < b.event_type),
         pz AS (SELECT group_a, group_b, t_stat, abs(t_stat) AS x,
             1.0 / (1.0 + 0.2316419 * abs(t_stat)) AS k
           FROM t),
         pv AS (SELECT group_a, group_b, t_stat,
             round(2.0 * (exp(-x * x / 2.0) * 0.3989422804014327) *
               (k * (0.319381530 + k * (-0.356563782 +
                k * (1.781477937 + k * (-1.821255978 +
                k * 1.330274429))))), 8) AS p
           FROM pz),
         rk AS (SELECT group_a, group_b, t_stat, p,
             CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(row_number() OVER (ORDER BY p, group_a, group_b)
               AS BIGINT) AS i
           FROM pv),
         adj AS (SELECT group_a, group_b, t_stat, p,
             round(least(1.0, min(p * m / i) OVER (ORDER BY i
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6)
               AS p_adj
           FROM rk)
         SELECT group_a, group_b, t_stat, p, p_adj,
           p_adj <= 0.05 AS significant
         FROM adj""",
    "pipe_budget" ->
      """WITH q AS (SELECT doc_id,
             round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / length(text) * 0.5
               + len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a')))
                 / len(string_split(text, ' ')) * 0.3
               + least(1.0, len(string_split(text, ' ')) / 100.0) * 0.2,
               6) AS q,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, q, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
           FROM q)
         SELECT doc_id, q, n_tokens, cum_tokens
         FROM c WHERE cum_tokens - n_tokens < 9000""",
    "pipe_dataset_card" ->
      """WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS u,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok,
             CAST(sum(length(text)) AS BIGINT) AS chars,
             quantile_cont(n_chars, CAST(1 AS DOUBLE)/2) AS p50c
           FROM documents),
         g AS (
           SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM b
           UNION ALL SELECT 'n_unique_texts', CAST(u AS DOUBLE) FROM b
           UNION ALL SELECT 'exact_dup_rate',
             round(1.0 - u / CAST(n AS DOUBLE), 6) FROM b
           UNION ALL SELECT 'total_ws_tokens', CAST(tok AS DOUBLE) FROM b
           UNION ALL SELECT 'mean_ws_tokens',
             round(tok / CAST(n AS DOUBLE), 6) FROM b
           UNION ALL SELECT 'mean_chars',
             round(chars / CAST(n AS DOUBLE), 6) FROM b
           UNION ALL SELECT 'p50_chars', round(p50c, 6) FROM b),
         bl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY 1),
         ct AS (SELECT CAST(sum(c) AS BIGINT) AS ct FROM bl),
         lr AS (SELECT 'docs_lang_' || lang AS metric,
             CAST(c AS DOUBLE) AS value FROM bl),
         e AS (SELECT 'lang_entropy' AS metric,
             round(-sum((c / CAST(ct AS DOUBLE)) *
               ln(c / CAST(ct AS DOUBLE))), 6) AS value
           FROM bl CROSS JOIN ct)
         SELECT * FROM g UNION ALL SELECT * FROM lr
         UNION ALL SELECT * FROM e""",
    "st_theil" ->
      """WITH g AS (SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT))
               AS DOUBLE) / 100.0 AS x,
             sum(l_extendedprice * ln(l_extendedprice)) AS s
           FROM lineitem WHERE l_extendedprice > 0
           GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(x) AS xt,
             sum(s) AS st, CAST(count(*) AS BIGINT) AS k
           FROM g)
         SELECT nt AS n, k,
           round(max(st / xt - ln(xt / nt)), 6) AS theil_total,
           round(sum((x / xt) * ln((x / xt) /
             (CAST(n AS DOUBLE) / nt))), 6) AS theil_between,
           round(sum((x / xt) * (s / x - ln(x / n))), 6) AS theil_within
         FROM g CROSS JOIN t GROUP BY nt, k""",
    "gr_random_walks" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS a,
             l_suppkey + 1000000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM p
           UNION SELECT b, a FROM p),
         r AS (SELECT src, dst,
             CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
               AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
           FROM e),
         w0 AS (SELECT DISTINCT src AS start, src AS cur FROM e),
         h1 AS (SELECT start, cur,
             md5('rw:1:' || CAST(cur AS VARCHAR)) AS h FROM w0),
         s1 AS (SELECT h1.start, r.dst AS n1
           FROM h1 JOIN r ON h1.cur = r.src
           AND r.rk = (((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
             + (strpos('0123456789abcdef', substr(h,2,1))-1)*256
             + (strpos('0123456789abcdef', substr(h,3,1))-1)*16
             + (strpos('0123456789abcdef', substr(h,4,1))-1)) % deg) + 1),
         h2 AS (SELECT start, n1,
             md5('rw:2:' || CAST(n1 AS VARCHAR)) AS h FROM s1),
         s2 AS (SELECT h2.start, h2.n1, r.dst AS n2
           FROM h2 JOIN r ON h2.n1 = r.src
           AND r.rk = (((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
             + (strpos('0123456789abcdef', substr(h,2,1))-1)*256
             + (strpos('0123456789abcdef', substr(h,3,1))-1)*16
             + (strpos('0123456789abcdef', substr(h,4,1))-1)) % deg) + 1),
         h3 AS (SELECT start, n1, n2,
             md5('rw:3:' || CAST(n2 AS VARCHAR)) AS h FROM s2),
         s3 AS (SELECT h3.start, h3.n1, h3.n2, r.dst AS n3
           FROM h3 JOIN r ON h3.n2 = r.src
           AND r.rk = (((strpos('0123456789abcdef', substr(h,1,1))-1)*4096
             + (strpos('0123456789abcdef', substr(h,2,1))-1)*256
             + (strpos('0123456789abcdef', substr(h,3,1))-1)*16
             + (strpos('0123456789abcdef', substr(h,4,1))-1)) % deg) + 1)
         SELECT start, n1, n2, n3 FROM s3""",
    "st_cochran_q" ->
      """WITH r AS (SELECT user_id,
             coalesce(max(CASE WHEN event_type = 'click' AND value > 70
               THEN 1 WHEN event_type = 'click' THEN 0 END), 0) AS x1,
             coalesce(max(CASE WHEN event_type = 'view' AND value > 70
               THEN 1 WHEN event_type = 'view' THEN 0 END), 0) AS x2,
             coalesce(max(CASE WHEN event_type = 'purchase'
                 AND value > 70 THEN 1
               WHEN event_type = 'purchase' THEN 0 END), 0) AS x3
           FROM events
           WHERE event_type IN ('click', 'view', 'purchase')
           GROUP BY 1),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x1) AS BIGINT) AS c1,
             CAST(sum(x2) AS BIGINT) AS c2,
             CAST(sum(x3) AS BIGINT) AS c3,
             CAST(sum(x1 + x2 + x3) AS BIGINT) AS sr,
             CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sr2
           FROM r),
         d AS (SELECT n_users, c1, c2, c3, sr, sr2,
             CAST(sr AS DOUBLE) AS nn FROM s)
         SELECT n_users, c1, c2, c3,
           round(3.0 * (3.0 - 1.0) *
             ((CAST(c1 AS DOUBLE) - nn / 3.0) *
              (CAST(c1 AS DOUBLE) - nn / 3.0) +
              (CAST(c2 AS DOUBLE) - nn / 3.0) *
              (CAST(c2 AS DOUBLE) - nn / 3.0) +
              (CAST(c3 AS DOUBLE) - nn / 3.0) *
              (CAST(c3 AS DOUBLE) - nn / 3.0)) /
             nullif(3.0 * nn - CAST(sr2 AS DOUBLE), 0), 4) AS q_stat
         FROM d""",
    "gr_hits" ->
      """WITH e AS (SELECT o_custkey AS src,
             l_suppkey + 1000000000 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 2),
         a1r AS (SELECT dst, sum(1.0) AS ar FROM e GROUP BY 1),
         a1 AS (SELECT dst AS node,
             round(ar / (SELECT max(ar) FROM a1r), 9) AS a FROM a1r),
         h1r AS (SELECT src, sum(a) AS hr
           FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
         h1 AS (SELECT src AS node,
             round(hr / (SELECT max(hr) FROM h1r), 9) AS h FROM h1r),
         a2r AS (SELECT dst, sum(h) AS ar
           FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
         a2 AS (SELECT dst AS node,
             round(ar / (SELECT max(ar) FROM a2r), 9) AS a FROM a2r),
         h2r AS (SELECT src, sum(a) AS hr
           FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
         h2 AS (SELECT src AS node,
             round(hr / (SELECT max(hr) FROM h2r), 9) AS h FROM h2r),
         a3r AS (SELECT dst, sum(h) AS ar
           FROM e JOIN h2 ON h2.node = e.src GROUP BY 1),
         a3 AS (SELECT dst AS node,
             round(ar / (SELECT max(ar) FROM a3r), 9) AS a FROM a3r),
         h3r AS (SELECT src, sum(a) AS hr
           FROM e JOIN a3 ON a3.node = e.dst GROUP BY 1),
         h3 AS (SELECT src AS node,
             round(hr / (SELECT max(hr) FROM h3r), 9) AS h FROM h3r)
         SELECT node, 'hub' AS role, floor(h * 1e6 + 0.5) / 1e6 AS score
         FROM h3
         UNION ALL
         SELECT node, 'authority' AS role, floor(a * 1e6 + 0.5) / 1e6 AS score
         FROM a3""",
    "st_prop_test" ->
      """WITH s AS (SELECT
             CAST(sum(CASE WHEN event_type = 'click' AND value > 50
               THEN 1 ELSE 0 END) AS BIGINT) AS x1,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(sum(CASE WHEN event_type = 'view' AND value > 50
               THEN 1 ELSE 0 END) AS BIGINT) AS x2,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS n2
           FROM events WHERE event_type IN ('click', 'view')),
         d AS (SELECT x1, n1, x2, n2,
             CAST(x1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0) AS p1,
             CAST(x2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0) AS p2,
             (CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE)) /
               nullif(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE), 0) AS pool
           FROM s)
         SELECT x1, n1, x2, n2,
           round(p1, 6) AS p1, round(p2, 6) AS p2,
           round((p1 - p2) / nullif(sqrt(pool * (1.0 - pool) *
             (1.0 / nullif(CAST(n1 AS DOUBLE), 0) +
              1.0 / nullif(CAST(n2 AS DOUBLE), 0))), 0), 4) AS z
         FROM d""",
    "w23_new_returning" ->
      """WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
           FROM events GROUP BY 1),
         ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events)
         SELECT day,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS returning_users
         FROM ud JOIN fd USING (user_id)
         GROUP BY 1""",
    "q34_division" ->
      """WITH w AS (SELECT o_custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-04-01'),
         d AS (SELECT CAST(count(DISTINCT month) AS BIGINT) AS n_months
           FROM w)
         SELECT o_custkey,
           CAST(count(DISTINCT month) AS BIGINT) AS months_active,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM w CROSS JOIN d
         GROUP BY o_custkey, n_months
         HAVING count(DISTINCT month) = n_months""",
    "q35_basket" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok,
             l_partkey AS item FROM lineitem),
         no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders
           FROM items),
         supp AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
           FROM items GROUP BY 1),
         pairs AS (SELECT a.item AS i1, b.item AS i2,
             CAST(count(*) AS BIGINT) AS n_pair
           FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT i1, i2, n_pair, s1.n_item AS n1, s2.n_item AS n2,
           round(n_pair / CAST(s1.n_item AS DOUBLE), 6) AS confidence,
           round(CAST(n_pair AS DOUBLE) * n_orders /
             (s1.n_item * s2.n_item), 6) AS lift
         FROM pairs
         JOIN supp s1 ON s1.item = i1
         JOIN supp s2 ON s2.item = i2
         CROSS JOIN no
         ORDER BY lift DESC, i1, i2 LIMIT 20""",
    "snk_deletion_vectors" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
         FROM orders WHERE o_orderstatus <> 'F' GROUP BY 1""",
    "st_ccc" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             avg(x) AS mx, avg(y) AS my,
             var_pop(x) AS vx, var_pop(y) AS vy,
             covar_pop(x, y) AS cxy
           FROM hourly)
         SELECT n,
           round(cxy / nullif(sqrt(vx * vy), 0), 6) AS pearson,
           round(2.0 * cxy /
             nullif(vx + vy + (mx - my) * (mx - my), 0), 6) AS ccc
         FROM m""",
    "st_mahalanobis" ->
      """WITH feats AS (SELECT user_id,
             CAST(count(*) AS DOUBLE) AS y,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS x
           FROM events GROUP BY 1),
         m AS (SELECT avg(x) AS mx, avg(y) AS my,
             var_pop(x) AS vx, var_pop(y) AS vy,
             covar_pop(x, y) AS cxy
           FROM feats)
         SELECT user_id, x AS mean_value, y AS n_events,
           round(((x - mx) * (x - mx) * vy
             - 2.0 * (x - mx) * (y - my) * cxy
             + (y - my) * (y - my) * vx)
             / nullif(vx * vy - cxy * cxy, 0), 4) AS d2
         FROM feats CROSS JOIN m
         ORDER BY d2 DESC, user_id LIMIT 10""",
    "st_bland_altman" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             avg(x - y) AS bias, stddev_samp(x - y) AS sd
           FROM hourly)
         SELECT n, round(bias, 6) AS bias, round(sd, 6) AS sd_diff,
           round(bias - 1.96 * sd, 6) AS loa_lower,
           round(bias + 1.96 * sd, 6) AS loa_upper
         FROM m""",
    "ts_hurst" ->
      """WITH hourly AS (SELECT
             epoch(date_trunc('hour', ts)) // 3600 AS hr,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         idx AS (SELECT v,
             row_number() OVER (ORDER BY hr) - 1 AS i FROM hourly),
         sized AS (SELECT bs, x, i, v, i // bs AS b
           FROM idx CROSS JOIN (VALUES (32, 5), (64, 6), (128, 7))
             AS t(bs, x)),
         cum AS (SELECT bs, x, b, v,
             row_number() OVER w AS j,
             sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS cs,
             sum(v) OVER (PARTITION BY bs, b) AS s1,
             count(*) OVER (PARTITION BY bs, b) AS nb
           FROM sized WINDOW w AS (PARTITION BY bs, b ORDER BY i)),
         dev AS (SELECT bs, x, b, nb, s1,
             CAST(cs AS DOUBLE) - j * (CAST(s1 AS DOUBLE) / bs)
               AS cumdev,
             CAST(v AS HUGEINT) * CAST(v AS HUGEINT) AS v2
           FROM cum),
         blocks AS (SELECT bs, x, b,
             CAST(max(nb) AS BIGINT) AS nb, max(s1) AS s1,
             CAST(sum(v2) AS HUGEINT) AS s2,
             max(cumdev) AS cmax, min(cumdev) AS cmin
           FROM dev GROUP BY 1, 2, 3),
         scored AS (SELECT bs, x,
             CAST(round(ln((cmax - cmin) / sd) / 0.6931471805599453
               * 1000000) AS BIGINT) AS yq
           FROM (SELECT *, sqrt(CAST(s2 AS DOUBLE) / bs -
               (CAST(s1 AS DOUBLE) / bs) * (CAST(s1 AS DOUBLE) / bs))
               AS sd
             FROM blocks WHERE nb = bs)
           WHERE sd > 0),
         per AS (SELECT bs AS block_size, x,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(yq) AS DOUBLE) / (count(*) * 1000000.0) AS y
           FROM scored GROUP BY 1, 2),
         reg AS (SELECT CAST(count(*) AS DOUBLE) AS k,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
           FROM per),
         h AS (SELECT round((k * sxy - sx * sy) /
             (k * sxx - CAST(sx * sx AS DOUBLE)), 4) AS hurst FROM reg)
         SELECT block_size, n_blocks, round(y, 6) AS avg_log2_rs, hurst
         FROM per CROSS JOIN h""",
    "sp_ripley" ->
      """WITH pts AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         pr AS (SELECT round(2*6371.0*asin(sqrt(
               pow(sin(radians(b.lat - a.lat)/2), 2) +
               cos(radians(a.lat))*cos(radians(b.lat))
                 *pow(sin(radians(b.lon - a.lon)/2), 2)
             )), 4) AS dist_km
           FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
         per AS (
           SELECT CAST(100.0 AS DOUBLE) AS r_km,
             6.55435659280035e-05 AS csr,
             CAST(sum(CASE WHEN dist_km <= 100.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pairs FROM pr
           UNION ALL
           SELECT CAST(200.0 AS DOUBLE), 2.621581161880989e-04,
             CAST(sum(CASE WHEN dist_km <= 200.0 THEN 1 ELSE 0 END)
               AS BIGINT) FROM pr
           UNION ALL
           SELECT CAST(400.0 AS DOUBLE), 1.0483741361924782e-03,
             CAST(sum(CASE WHEN dist_km <= 400.0 THEN 1 ELSE 0 END)
               AS BIGINT) FROM pr)
         SELECT r_km, n_pairs,
           round(2.0 * n_pairs / (n * (n - 1)), 8) AS pair_share,
           round(csr, 8) AS csr_share,
           round(2.0 * n_pairs / (n * (n - 1)) / csr, 4) AS k_ratio
         FROM per CROSS JOIN nn""",
    "ts_hw" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), value) AS rn
           FROM ev0),
         ev0 AS (SELECT user_id, ts, value FROM events),
         rec AS (
           SELECT user_id, ts_us, value AS l, CAST(0.0 AS DOUBLE) AS b,
             list_transform(generate_series(1, 24),
               x -> CAST(0.0 AS DOUBLE)) AS s,
             rn
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.ts_us,
             0.3 * (e.value - r.s[(r.rn % 24) + 1]) + (1.0 - 0.3) * (r.l + r.b),
             0.1 * ((0.3 * (e.value - r.s[(r.rn % 24) + 1]) + (1.0 - 0.3) * (r.l + r.b)) - r.l) + (1.0 - 0.1) * r.b,
             list_transform(list_zip(r.s, generate_series(1, 24)),
               z -> CASE WHEN z[2] = (r.rn % 24) + 1
                 THEN 0.3 * (e.value - (0.3 * (e.value - r.s[(r.rn % 24) + 1]) + (1.0 - 0.3) * (r.l + r.b))) + (1.0 - 0.3) * z[1]
                 ELSE z[1] END),
             e.rn
           FROM ev e JOIN rec r
             ON e.user_id = r.user_id AND e.rn = r.rn + 1),
         o AS (SELECT user_id, ts_us, l, b,
             s[((rn - 1) % 24) + 1] AS se,
             l + b + s[(rn % 24) + 1] AS f
           FROM rec)
         SELECT user_id, ts_us,
           CASE WHEN l * 1000000.0 = floor(l * 1000000.0) + 0.5
             THEN (floor(l * 1000000.0) +
               abs(CAST(floor(l * 1000000.0) AS BIGINT) % 2))
               / 1000000.0
             ELSE round(l * 1000000.0, 0) / 1000000.0 END AS level,
           CASE WHEN b * 1000000.0 = floor(b * 1000000.0) + 0.5
             THEN (floor(b * 1000000.0) +
               abs(CAST(floor(b * 1000000.0) AS BIGINT) % 2))
               / 1000000.0
             ELSE round(b * 1000000.0, 0) / 1000000.0 END AS trend,
           CASE WHEN se * 1000000.0 = floor(se * 1000000.0) + 0.5
             THEN (floor(se * 1000000.0) +
               abs(CAST(floor(se * 1000000.0) AS BIGINT) % 2))
               / 1000000.0
             ELSE round(se * 1000000.0, 0) / 1000000.0 END AS seasonal,
           CASE WHEN f * 1000000.0 = floor(f * 1000000.0) + 0.5
             THEN (floor(f * 1000000.0) +
               abs(CAST(floor(f * 1000000.0) AS BIGINT) % 2))
               / 1000000.0
             ELSE round(f * 1000000.0, 0) / 1000000.0 END AS forecast_1
         FROM o""",
    "ts_holt" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), value) AS rn
           FROM events),
         rec AS (
           SELECT user_id, ts_us, value AS l, CAST(0.0 AS DOUBLE) AS b,
             rn
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.ts_us,
             0.3 * e.value + (1.0 - 0.3) * (r.l + r.b),
             0.1 * ((0.3 * e.value + (1.0 - 0.3) * (r.l + r.b)) - r.l) + (1.0 - 0.1) * r.b,
             e.rn
           FROM ev e JOIN rec r
             ON e.user_id = r.user_id AND e.rn = r.rn + 1),
         o AS (SELECT user_id, ts_us, l, b, l + b AS f FROM rec)
         SELECT user_id, ts_us,
           CASE WHEN l * 1000000.0 = floor(l * 1000000.0) + 0.5
             THEN (floor(l * 1000000.0) +
               abs(CAST(floor(l * 1000000.0) AS BIGINT) % 2))
               / 1000000.0
             ELSE round(l * 1000000.0, 0) / 1000000.0 END AS level,
           CASE WHEN b * 1000000.0 = floor(b * 1000000.0) + 0.5
             THEN (floor(b * 1000000.0) +
               abs(CAST(floor(b * 1000000.0) AS BIGINT) % 2))
               / 1000000.0
             ELSE round(b * 1000000.0, 0) / 1000000.0 END AS trend,
           CASE WHEN f * 1000000.0 = floor(f * 1000000.0) + 0.5
             THEN (floor(f * 1000000.0) +
               abs(CAST(floor(f * 1000000.0) AS BIGINT) % 2))
               / 1000000.0
             ELSE round(f * 1000000.0, 0) / 1000000.0 END AS forecast_1
         FROM o""",
    "ts_pacf" ->
      """WITH hourly AS (
           SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click'
           GROUP BY 1),
         l AS (SELECT unnest(range(0, 13)) AS lag),
         acf AS (SELECT lag, round(corr(a.v, b.v), 6) AS xcorr
           FROM l CROSS JOIN hourly a JOIN hourly b ON b.hr = a.hr + lag
           GROUP BY lag),
         rv AS (SELECT
             max(CASE WHEN lag = 0 THEN xcorr END) AS r0,
             max(CASE WHEN lag = 1 THEN xcorr END) AS r1,
             max(CASE WHEN lag = 2 THEN xcorr END) AS r2,
             max(CASE WHEN lag = 3 THEN xcorr END) AS r3,
             max(CASE WHEN lag = 4 THEN xcorr END) AS r4,
             max(CASE WHEN lag = 5 THEN xcorr END) AS r5,
             max(CASE WHEN lag = 6 THEN xcorr END) AS r6,
             max(CASE WHEN lag = 7 THEN xcorr END) AS r7,
             max(CASE WHEN lag = 8 THEN xcorr END) AS r8,
             max(CASE WHEN lag = 9 THEN xcorr END) AS r9,
             max(CASE WHEN lag = 10 THEN xcorr END) AS r10,
             max(CASE WHEN lag = 11 THEN xcorr END) AS r11,
             max(CASE WHEN lag = 12 THEN xcorr END) AS r12
           FROM acf WHERE xcorr IS NOT NULL),
         d1 AS (SELECT r1 / 1.0 AS p1 FROM rv),
         e1 AS (SELECT p1 FROM d1),
         d2 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1) = 0 THEN 0.0
               ELSE (r2 - (p1 * r1)) / (1.0 - (p1 * r1))
               END AS pkk,
             p1
           FROM e1 CROSS JOIN rv),
         e2 AS (SELECT p1 - pkk * p1 AS p1,
             pkk AS p2 FROM d2),
         d3 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2) = 0 THEN 0.0
               ELSE (r3 - (p1 * r2 + p2 * r1)) / (1.0 - (p1 * r1 + p2 * r2))
               END AS pkk,
             p1, p2
           FROM e2 CROSS JOIN rv),
         e3 AS (SELECT p1 - pkk * p2 AS p1,
             p2 - pkk * p1 AS p2,
             pkk AS p3 FROM d3),
         d4 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3) = 0 THEN 0.0
               ELSE (r4 - (p1 * r3 + p2 * r2 + p3 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3))
               END AS pkk,
             p1, p2, p3
           FROM e3 CROSS JOIN rv),
         e4 AS (SELECT p1 - pkk * p3 AS p1,
             p2 - pkk * p2 AS p2,
             p3 - pkk * p1 AS p3,
             pkk AS p4 FROM d4),
         d5 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4) = 0 THEN 0.0
               ELSE (r5 - (p1 * r4 + p2 * r3 + p3 * r2 + p4 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4))
               END AS pkk,
             p1, p2, p3, p4
           FROM e4 CROSS JOIN rv),
         e5 AS (SELECT p1 - pkk * p4 AS p1,
             p2 - pkk * p3 AS p2,
             p3 - pkk * p2 AS p3,
             p4 - pkk * p1 AS p4,
             pkk AS p5 FROM d5),
         d6 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5) = 0 THEN 0.0
               ELSE (r6 - (p1 * r5 + p2 * r4 + p3 * r3 + p4 * r2 + p5 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5))
               END AS pkk,
             p1, p2, p3, p4, p5
           FROM e5 CROSS JOIN rv),
         e6 AS (SELECT p1 - pkk * p5 AS p1,
             p2 - pkk * p4 AS p2,
             p3 - pkk * p3 AS p3,
             p4 - pkk * p2 AS p4,
             p5 - pkk * p1 AS p5,
             pkk AS p6 FROM d6),
         d7 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6) = 0 THEN 0.0
               ELSE (r7 - (p1 * r6 + p2 * r5 + p3 * r4 + p4 * r3 + p5 * r2 + p6 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6))
               END AS pkk,
             p1, p2, p3, p4, p5, p6
           FROM e6 CROSS JOIN rv),
         e7 AS (SELECT p1 - pkk * p6 AS p1,
             p2 - pkk * p5 AS p2,
             p3 - pkk * p4 AS p3,
             p4 - pkk * p3 AS p4,
             p5 - pkk * p2 AS p5,
             p6 - pkk * p1 AS p6,
             pkk AS p7 FROM d7),
         d8 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7) = 0 THEN 0.0
               ELSE (r8 - (p1 * r7 + p2 * r6 + p3 * r5 + p4 * r4 + p5 * r3 + p6 * r2 + p7 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7))
               END AS pkk,
             p1, p2, p3, p4, p5, p6, p7
           FROM e7 CROSS JOIN rv),
         e8 AS (SELECT p1 - pkk * p7 AS p1,
             p2 - pkk * p6 AS p2,
             p3 - pkk * p5 AS p3,
             p4 - pkk * p4 AS p4,
             p5 - pkk * p3 AS p5,
             p6 - pkk * p2 AS p6,
             p7 - pkk * p1 AS p7,
             pkk AS p8 FROM d8),
         d9 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8) = 0 THEN 0.0
               ELSE (r9 - (p1 * r8 + p2 * r7 + p3 * r6 + p4 * r5 + p5 * r4 + p6 * r3 + p7 * r2 + p8 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8))
               END AS pkk,
             p1, p2, p3, p4, p5, p6, p7, p8
           FROM e8 CROSS JOIN rv),
         e9 AS (SELECT p1 - pkk * p8 AS p1,
             p2 - pkk * p7 AS p2,
             p3 - pkk * p6 AS p3,
             p4 - pkk * p5 AS p4,
             p5 - pkk * p4 AS p5,
             p6 - pkk * p3 AS p6,
             p7 - pkk * p2 AS p7,
             p8 - pkk * p1 AS p8,
             pkk AS p9 FROM d9),
         d10 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8 + p9 * r9) = 0 THEN 0.0
               ELSE (r10 - (p1 * r9 + p2 * r8 + p3 * r7 + p4 * r6 + p5 * r5 + p6 * r4 + p7 * r3 + p8 * r2 + p9 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8 + p9 * r9))
               END AS pkk,
             p1, p2, p3, p4, p5, p6, p7, p8, p9
           FROM e9 CROSS JOIN rv),
         e10 AS (SELECT p1 - pkk * p9 AS p1,
             p2 - pkk * p8 AS p2,
             p3 - pkk * p7 AS p3,
             p4 - pkk * p6 AS p4,
             p5 - pkk * p5 AS p5,
             p6 - pkk * p4 AS p6,
             p7 - pkk * p3 AS p7,
             p8 - pkk * p2 AS p8,
             p9 - pkk * p1 AS p9,
             pkk AS p10 FROM d10),
         d11 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8 + p9 * r9 + p10 * r10) = 0 THEN 0.0
               ELSE (r11 - (p1 * r10 + p2 * r9 + p3 * r8 + p4 * r7 + p5 * r6 + p6 * r5 + p7 * r4 + p8 * r3 + p9 * r2 + p10 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8 + p9 * r9 + p10 * r10))
               END AS pkk,
             p1, p2, p3, p4, p5, p6, p7, p8, p9, p10
           FROM e10 CROSS JOIN rv),
         e11 AS (SELECT p1 - pkk * p10 AS p1,
             p2 - pkk * p9 AS p2,
             p3 - pkk * p8 AS p3,
             p4 - pkk * p7 AS p4,
             p5 - pkk * p6 AS p5,
             p6 - pkk * p5 AS p6,
             p7 - pkk * p4 AS p7,
             p8 - pkk * p3 AS p8,
             p9 - pkk * p2 AS p9,
             p10 - pkk * p1 AS p10,
             pkk AS p11 FROM d11),
         d12 AS (SELECT
             CASE WHEN 1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8 + p9 * r9 + p10 * r10 + p11 * r11) = 0 THEN 0.0
               ELSE (r12 - (p1 * r11 + p2 * r10 + p3 * r9 + p4 * r8 + p5 * r7 + p6 * r6 + p7 * r5 + p8 * r4 + p9 * r3 + p10 * r2 + p11 * r1)) / (1.0 - (p1 * r1 + p2 * r2 + p3 * r3 + p4 * r4 + p5 * r5 + p6 * r6 + p7 * r7 + p8 * r8 + p9 * r9 + p10 * r10 + p11 * r11))
               END AS pkk,
             p1, p2, p3, p4, p5, p6, p7, p8, p9, p10, p11
           FROM e11 CROSS JOIN rv),
         e12 AS (SELECT p1 - pkk * p11 AS p1,
             p2 - pkk * p10 AS p2,
             p3 - pkk * p9 AS p3,
             p4 - pkk * p8 AS p4,
             p5 - pkk * p7 AS p5,
             p6 - pkk * p6 AS p6,
             p7 - pkk * p5 AS p7,
             p8 - pkk * p4 AS p8,
             p9 - pkk * p3 AS p9,
             p10 - pkk * p2 AS p10,
             p11 - pkk * p1 AS p11,
             pkk AS p12 FROM d12),
         res AS (
           SELECT 0 AS lag, (SELECT r0 FROM rv) AS acf_raw, 1.0 AS pacf_raw
           UNION ALL
           SELECT 1 AS lag, (SELECT r1 FROM rv) AS acf_raw, (SELECT p1 FROM d1) AS pacf_raw
           UNION ALL
           SELECT 2 AS lag, (SELECT r2 FROM rv) AS acf_raw, (SELECT pkk FROM d2) AS pacf_raw
           UNION ALL
           SELECT 3 AS lag, (SELECT r3 FROM rv) AS acf_raw, (SELECT pkk FROM d3) AS pacf_raw
           UNION ALL
           SELECT 4 AS lag, (SELECT r4 FROM rv) AS acf_raw, (SELECT pkk FROM d4) AS pacf_raw
           UNION ALL
           SELECT 5 AS lag, (SELECT r5 FROM rv) AS acf_raw, (SELECT pkk FROM d5) AS pacf_raw
           UNION ALL
           SELECT 6 AS lag, (SELECT r6 FROM rv) AS acf_raw, (SELECT pkk FROM d6) AS pacf_raw
           UNION ALL
           SELECT 7 AS lag, (SELECT r7 FROM rv) AS acf_raw, (SELECT pkk FROM d7) AS pacf_raw
           UNION ALL
           SELECT 8 AS lag, (SELECT r8 FROM rv) AS acf_raw, (SELECT pkk FROM d8) AS pacf_raw
           UNION ALL
           SELECT 9 AS lag, (SELECT r9 FROM rv) AS acf_raw, (SELECT pkk FROM d9) AS pacf_raw
           UNION ALL
           SELECT 10 AS lag, (SELECT r10 FROM rv) AS acf_raw, (SELECT pkk FROM d10) AS pacf_raw
           UNION ALL
           SELECT 11 AS lag, (SELECT r11 FROM rv) AS acf_raw, (SELECT pkk FROM d11) AS pacf_raw
           UNION ALL
           SELECT 12 AS lag, (SELECT r12 FROM rv) AS acf_raw, (SELECT pkk FROM d12) AS pacf_raw)
         SELECT CAST(lag AS INTEGER) AS lag,
           CASE WHEN acf_raw * 1000000.0 = floor(acf_raw * 1000000.0) + 0.5
             THEN (floor(acf_raw * 1000000.0) +
               abs(CAST(floor(acf_raw * 1000000.0) AS BIGINT) % 2)) / 1000000.0
             ELSE round(acf_raw * 1000000.0, 0) / 1000000.0 END AS acf,
           CASE WHEN pacf_raw * 1000000.0 = floor(pacf_raw * 1000000.0) + 0.5
             THEN (floor(pacf_raw * 1000000.0) +
               abs(CAST(floor(pacf_raw * 1000000.0) AS BIGINT) % 2)) / 1000000.0
             ELSE round(pacf_raw * 1000000.0, 0) / 1000000.0 END AS pacf
         FROM res""",
    "ts_kalman" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), value) AS rn
           FROM events),
         rec AS (
           SELECT user_id, ts_us, value AS l, CAST(2.0 AS DOUBLE) AS p,
             CAST(1.0 AS DOUBLE) AS g, rn
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.ts_us,
             r.l + ((r.p + 0.5) / (r.p + 0.5 + 2.0)) * (e.value - r.l),
             (1.0 - (r.p + 0.5) / (r.p + 0.5 + 2.0)) * (r.p + 0.5),
             (r.p + 0.5) / (r.p + 0.5 + 2.0),
             e.rn
           FROM ev e JOIN rec r
             ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, ts_us,
           CASE WHEN l * 1000000.0 = floor(l * 1000000.0) + 0.5
             THEN (floor(l * 1000000.0) +
               abs(CAST(floor(l * 1000000.0) AS BIGINT) % 2)) / 1000000.0
             ELSE round(l * 1000000.0, 0) / 1000000.0
           END AS level,
           CASE WHEN g * 1000000.0 = floor(g * 1000000.0) + 0.5
             THEN (floor(g * 1000000.0) +
               abs(CAST(floor(g * 1000000.0) AS BIGINT) % 2)) / 1000000.0
             ELSE round(g * 1000000.0, 0) / 1000000.0
           END AS gain
         FROM rec""",
    "ts_binseg" ->
      """WITH h0 AS (SELECT epoch(date_trunc('hour', ts)) // 3600 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS vu
           FROM events WHERE event_type = 'click' GROUP BY 1),
         h AS (SELECT hr, vu,
             CAST(row_number() OVER wo AS BIGINT) AS i,
             CAST(sum(vu) OVER wr AS BIGINT) AS pre,
             CAST(sum(vu) OVER () AS BIGINT) AS tot,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM h0 WINDOW wo AS (ORDER BY hr),
             wr AS (ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         b1 AS (SELECT i AS t1 FROM h WHERE i < n
           ORDER BY abs(n * pre - i * tot) DESC, i LIMIT 1),
         s1 AS (SELECT h.*, CASE WHEN i <= t1 THEN 0 ELSE 1 END AS seg
           FROM h CROSS JOIN b1),
         s AS (SELECT hr, vu, seg,
             CAST(row_number() OVER ws AS BIGINT) AS j,
             CAST(sum(vu) OVER wsr AS BIGINT) AS spre,
             CAST(sum(vu) OVER (PARTITION BY seg) AS BIGINT) AS stot,
             CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS sn
           FROM s1 WINDOW ws AS (PARTITION BY seg ORDER BY hr),
             wsr AS (PARTITION BY seg ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         b2 AS (SELECT seg, j AS t2 FROM (
             SELECT seg, j, row_number() OVER (PARTITION BY seg
               ORDER BY abs(sn * spre - j * stot) DESC, j) AS rk
             FROM s WHERE j < sn) WHERE rk = 1),
         parts AS (SELECT s.seg,
             CASE WHEN t2 IS NULL OR j <= t2 THEN 0 ELSE 1 END AS sub,
             CAST(min(hr) AS BIGINT) AS start_hr,
             CAST(max(hr) AS BIGINT) AS end_hr,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(vu) AS BIGINT) AS su
           FROM s LEFT JOIN b2 ON s.seg = b2.seg GROUP BY 1, 2)
         SELECT CAST(row_number() OVER (ORDER BY start_hr) AS BIGINT)
             AS segment,
           start_hr, end_hr, n_hours,
           round(su / n_hours / 1e6, 6) AS mean_value
         FROM parts""",
    "ts_ewma" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), value) AS rn
           FROM events),
         rec AS (
           SELECT user_id, ts_us, value AS y, rn FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.ts_us,
             0.3 * e.value + (1.0 - 0.3) * r.y, e.rn
           FROM ev e JOIN rec r
             ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, ts_us,
           CASE WHEN y * 1000000.0 = floor(y * 1000000.0) + 0.5
             THEN (floor(y * 1000000.0) +
               abs(CAST(floor(y * 1000000.0) AS BIGINT) % 2)) / 1000000.0
             ELSE round(y * 1000000.0, 0) / 1000000.0
           END AS ewma
         FROM rec""",
    "ts_ar1_halflife" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         pairs AS (SELECT a.v AS x, b.v AS y
           FROM daily a JOIN daily b ON b.day = a.day + 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
               AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
               AS HUGEINT) AS sxx
           FROM pairs),
         r AS (SELECT n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS rho
           FROM m)
         SELECT n AS n_pairs, round(rho, 6) AS rho,
           CASE WHEN rho > 0 AND rho < 1
             THEN round(0.6931471805599453 / -ln(rho), 4) END
             AS halflife_days
         FROM r""",
    "ts_turning_points" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         x AS (SELECT v, lag(v) OVER w AS pv, lead(v) OVER w AS nv
           FROM daily WINDOW w AS (ORDER BY day)),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_interior,
             CAST(sum(CASE WHEN (v > pv AND v > nv) OR
               (v < pv AND v < nv) THEN 1 ELSE 0 END) AS BIGINT) AS t
           FROM x WHERE pv IS NOT NULL AND nv IS NOT NULL)
         SELECT n_interior + 2 AS n_days, t AS n_turning,
           round(2.0 * (CAST(n_interior + 2 AS DOUBLE) - 2.0) / 3.0, 4)
             AS expected,
           round((CAST(t AS DOUBLE) -
             2.0 * (CAST(n_interior + 2 AS DOUBLE) - 2.0) / 3.0) /
             sqrt((16.0 * CAST(n_interior + 2 AS DOUBLE) - 29.0) / 90.0),
             4) AS z
         FROM t""",
    "tx_readability" ->
      """WITH d AS (SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             greatest(CAST(1 AS BIGINT),
               CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
               AS sents,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS syl
           FROM documents),
         f AS (SELECT source,
             206.835 - 1.015 * (CAST(w AS DOUBLE) / sents) -
               84.6 * (CAST(syl AS DOUBLE) / w) AS f
           FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(round(f * 10000) AS BIGINT)) AS DOUBLE) /
             (count(*) * 10000.0), 4) AS avg_flesch,
           CAST(sum(CASE WHEN f >= 70 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_easy,
           CAST(sum(CASE WHEN f >= 50 AND f < 70 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_standard,
           CAST(sum(CASE WHEN f < 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_difficult
         FROM f GROUP BY 1""",
    "dwh_mini_dim" ->
      """WITH members AS (SELECT
             CAST(floor(c_acctbal / 1000) AS INTEGER) AS balance_band,
             c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(min(c_custkey) AS BIGINT) AS first_custkey
           FROM customer GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n_members) AS BIGINT) AS nt FROM members)
         SELECT CAST(dense_rank() OVER (ORDER BY balance_band, segment)
             AS INT) AS mini_key,
           balance_band, segment, n_members, first_custkey,
           round(CAST(n_members AS DOUBLE) / nt, 6) AS member_share
         FROM members CROSS JOIN t""",
    "dwh_data_vault" ->
      """WITH hub_c AS (SELECT md5(CAST(c_custkey AS VARCHAR)) AS hk
             FROM (SELECT DISTINCT c_custkey FROM customer)),
         hub_o AS (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS hk
             FROM (SELECT DISTINCT o_orderkey FROM orders)),
         lnk AS (SELECT md5(CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR)) AS lhk
             FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders)),
         sat AS (SELECT DISTINCT md5(CAST(o_orderkey AS VARCHAR)) AS hk,
             md5(o_orderstatus || '|' ||
               CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               || '|' || o_orderpriority) AS hashdiff
             FROM orders),
         a1 AS (SELECT 'hub_customer' AS structure,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT hk) AS BIGINT) AS n_keys,
             min(hk) AS min_hk, max(hk) AS max_hk FROM hub_c),
         a2 AS (SELECT 'hub_order', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT hk) AS BIGINT), min(hk), max(hk)
             FROM hub_o),
         a3 AS (SELECT 'link_order_customer', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT lhk) AS BIGINT), min(lhk), max(lhk)
             FROM lnk),
         a4 AS (SELECT 'sat_order', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT hk) AS BIGINT), min(hk), max(hk)
             FROM sat)
         SELECT * FROM a1 UNION ALL SELECT * FROM a2
         UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4""",
    "dq_fd_check" ->
      """WITH f1 AS (SELECT 'orderkey->custkey' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating
           FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS ny
                 FROM orders GROUP BY 1)),
         f2 AS (SELECT 'orderkey->returnflag' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating
           FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS ny
                 FROM lineitem GROUP BY 1)),
         f3 AS (SELECT 'nation->segment' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating
           FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS ny
                 FROM customer GROUP BY 1)),
         f4 AS (SELECT 'orderkey,line->partkey' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating
           FROM (SELECT l_orderkey, l_linenumber,
                   count(DISTINCT l_partkey) AS ny
                 FROM lineitem GROUP BY 1, 2)),
         u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
           UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
         SELECT fd, n_groups, n_violating,
           round(CAST(n_violating AS DOUBLE) / n_groups, 6)
             AS violation_rate,
           n_violating = 0 AS holds
         FROM u""",
    "tx_gopher_rules" ->
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '),
               x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT)
               AS n_alpha,
             CAST(list_max(list_transform(string_split(text, ' '),
               x -> length(x))) AS BIGINT) AS longest
           FROM documents),
         r AS (SELECT doc_id, n_words,
             CAST(n_chars AS DOUBLE) / n_words AS mean_len,
             CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
             longest
           FROM w)
         SELECT doc_id, n_words,
           round(mean_len, 4) AS mean_word_len,
           round(alpha_frac, 4) AS alpha_word_frac,
           longest AS longest_word,
           n_words >= 50 AND n_words <= 100000 AS pass_word_count,
           mean_len >= 3.0 AND mean_len <= 10.0 AS pass_mean_len,
           alpha_frac >= 0.8 AS pass_alpha,
           longest <= 25 AS pass_longest,
           (n_words >= 50 AND n_words <= 100000)
             AND (mean_len >= 3.0 AND mean_len <= 10.0)
             AND alpha_frac >= 0.8 AND longest <= 25 AS keep
         FROM r""",
    "sp_davies_bouldin" ->
      """WITH p AS MATERIALIZED (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         pts AS MATERIALIZED (SELECT c_custkey, lat, lon,
             CAST(floor((lat + 90) / 10) AS INTEGER) AS ca,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cb
           FROM p),
         cents AS MATERIALIZED (SELECT ca, cb,
             round(avg(lat), 6) AS g_lat, round(avg(lon), 6) AS g_lon
           FROM pts GROUP BY 1, 2),
         scat AS MATERIALIZED (SELECT pts.ca, pts.cb,
             CAST(sum(CAST(round(sqrt(
                 (lat - g_lat) * (lat - g_lat) +
                 (lon - g_lon) * (lon - g_lon)) * 1e6) AS BIGINT))
               AS BIGINT) AS su,
             CAST(count(*) AS BIGINT) AS n
           FROM pts JOIN cents
             ON pts.ca = cents.ca AND pts.cb = cents.cb
           GROUP BY 1, 2),
         sg AS MATERIALIZED (SELECT scat.ca, scat.cb, g_lat, g_lon,
             CAST(su AS DOUBLE) / n / 1e6 AS sigma, n
           FROM scat JOIN cents
             ON scat.ca = cents.ca AND scat.cb = cents.cb),
         ri AS (SELECT i.ca, i.cb,
             CAST(coalesce(round(max((i.sigma + j.sigma) /
               nullif(sqrt(
                 (i.g_lat - j.g_lat) * (i.g_lat - j.g_lat) +
                 (i.g_lon - j.g_lon) * (i.g_lon - j.g_lon)), 0))
               * 1e6), 0) AS BIGINT) AS rq
           FROM sg i LEFT JOIN sg j ON i.ca <> j.ca OR i.cb <> j.cb
           GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS np FROM sg)
         SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(np) AS BIGINT) AS n_points,
           round(sum(rq) / count(*) / 1e6, 6) AS db_index
         FROM ri CROSS JOIN t""",
    "sp_clark_evans" ->
      """WITH p AS MATERIALIZED (SELECT c_custkey AS id,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS MATERIALIZED (SELECT id, lat, lon,
             CAST(floor((lat + 90) / 10) AS INTEGER) AS ca,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cb
           FROM p),
         off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
             (0,0),(0,1),(1,-1),(1,0),(1,1)) AS t(dy, dx)),
         pr AS (SELECT g.id, g.lat, g.lon, g.ca + dy AS na,
             g.cb + dx AS nb
           FROM g CROSS JOIN off),
         nn AS (SELECT pr.id,
             CAST(round(min(struct_pack(d := round(2*6371.0*asin(sqrt(
                 pow(sin(radians(j.lat - pr.lat)/2), 2) +
                 cos(radians(pr.lat))*cos(radians(j.lat))
                   *pow(sin(radians(j.lon - pr.lon)/2), 2))), 4),
               jid := j.id)).d * 1e4) AS BIGINT) AS du
           FROM pr JOIN g j ON j.ca = pr.na AND j.cb = pr.nb
           WHERE pr.id <> j.id
           GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_with_nn,
             CAST(sum(du) AS BIGINT) AS su
           FROM nn)
         SELECT n AS n_points, n - n_with_nn AS n_isolated,
           round(CAST(su AS DOUBLE) / n_with_nn / 1e4, 4) AS mean_nn_km,
           round(0.5 / sqrt(CAST(n AS DOUBLE) / 479305144.464871), 4)
             AS expected_nn_km,
           round((CAST(su AS DOUBLE) / n_with_nn / 1e4)
             / (0.5 / sqrt(CAST(n AS DOUBLE) / 479305144.464871)), 4)
             AS clark_evans_r
         FROM ag CROSS JOIN tot""",
    "st_ancova" ->
      """WITH g AS (SELECT event_type AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(sum(CAST(hour(ts) AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(hour(ts) AS BIGINT)
               * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxy,
             CAST(sum(CAST(hour(ts) AS BIGINT) * CAST(hour(ts)
               AS BIGINT)) AS BIGINT) AS sxx
           FROM events GROUP BY 1),
         q AS (SELECT grp, n, sy, sx,
             CAST(round(CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
               AS BIGINT) AS qxy,
             CAST(round(CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
               AS BIGINT) AS qxx
           FROM g),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(sx) AS BIGINT) AS sxt,
             CAST(sum(qxy) AS BIGINT) AS qxyt,
             CAST(sum(qxx) AS BIGINT) AS qxxt
           FROM q)
         SELECT grp AS event_type, n,
           round(CAST(sy AS DOUBLE) / n / 100.0, 4) AS raw_mean,
           round((CAST(sy AS DOUBLE) / n
             - CAST(qxyt AS DOUBLE)
               / nullif(CAST(qxxt AS DOUBLE), 0)
               * (CAST(sx AS DOUBLE) / n
                 - CAST(sxt AS DOUBLE) / nt)) / 100.0, 4)
             AS adjusted_mean,
           round(CAST(qxyt AS DOUBLE)
             / nullif(CAST(qxxt AS DOUBLE), 0) / 100.0, 6)
             AS common_slope_per_hour
         FROM q CROSS JOIN t""",
    "st_cochran_armitage" ->
      """WITH pu AS (SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_ev,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 95.0
               THEN 1 ELSE 0 END) AS BIGINT) AS conv
           FROM events GROUP BY 1),
         pb AS (SELECT least(n_ev // 20, 3) AS w, n_ev, conv FROM pu),
         g AS (SELECT w, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
           FROM pb GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(k) AS BIGINT) AS kt,
             CAST(sum(w * n) AS BIGINT) AS swn,
             CAST(sum(w * k) AS BIGINT) AS swk,
             CAST(sum(w * w * n) AS BIGINT) AS swwn,
             CAST(count(*) AS BIGINT) AS n_bands
           FROM g)
         SELECT n_bands, nt AS n_users,
           round(CAST(kt AS DOUBLE) / nt, 6) AS overall_rate,
           round((CAST(swk AS DOUBLE) - CAST(kt AS DOUBLE) / nt * swn)
             / nullif(sqrt(CAST(kt AS DOUBLE) / nt
               * (1.0 - CAST(kt AS DOUBLE) / nt)
               * (CAST(swwn AS DOUBLE)
                 - CAST(swn AS DOUBLE) * swn / nt)), 0), 4) AS z
         FROM t""",
    "sp_kde" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cl,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cn,
             CAST(count(*) AS BIGINT) AS n
           FROM p GROUP BY 1, 2),
         off AS (SELECT * FROM (VALUES (-1,-1,1), (-1,0,2), (-1,1,1),
             (0,-1,2), (0,0,4), (0,1,2),
             (1,-1,1), (1,0,2), (1,1,1)) AS t(dy, dx, w)),
         sp AS (SELECT cl + dy AS cell_lat, cn + dx AS cell_lon,
             CAST(w * n AS BIGINT) AS wn
           FROM g CROSS JOIN off),
         m AS (SELECT cell_lat, cell_lon,
             CAST(sum(wn) AS BIGINT) AS mass16
           FROM sp GROUP BY 1, 2)
         SELECT cell_lat, cell_lon,
           round(mass16 / 16.0, 4) AS smoothed
         FROM m ORDER BY mass16 DESC, cell_lat, cell_lon LIMIT 15""",
    "sp_quadrat" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cl,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cn,
             CAST(count(*) AS BIGINT) AS o
           FROM p GROUP BY 1, 2),
         s AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(sum(o * o) AS BIGINT) AS ssq
           FROM g)
         SELECT n AS n_points, CAST(504 AS BIGINT) AS n_cells,
           round(CAST(n AS DOUBLE) / 504, 6) AS mean_per_cell,
           round((CAST(ssq AS DOUBLE)
               - CAST(n AS DOUBLE) * n / 504) / 503
             / (CAST(n AS DOUBLE) / 504), 4) AS vmr,
           round(504.0 * ssq / n - n, 4) AS chi2,
           CAST(503 AS BIGINT) AS df
         FROM s""",
    "dwh_junk_dim" ->
      """WITH combos AS (SELECT o_orderstatus, o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_facts
           FROM orders GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n_facts) AS BIGINT) AS nt FROM combos)
         SELECT CAST(dense_rank() OVER (ORDER BY o_orderstatus,
             o_orderpriority) AS INT) AS junk_key,
           o_orderstatus, o_orderpriority, n_facts,
           round(CAST(n_facts AS DOUBLE) / nt, 6) AS fact_share
         FROM combos CROSS JOIN t""",
    "dwh_factless" ->
      """WITH segs AS (SELECT DISTINCT c_mktsegment AS segment
             FROM customer),
         months AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m')
             AS month FROM orders),
         covered AS (SELECT DISTINCT c_mktsegment AS segment,
             strftime(o_orderdate, '%Y-%m') AS month
           FROM orders JOIN customer ON o_custkey = c_custkey)
         SELECT segment, month FROM segs CROSS JOIN months
         WHERE NOT EXISTS (SELECT 1 FROM covered c
           WHERE c.segment = segs.segment AND c.month = months.month)""",
    "ts_seasonal_mk" ->
      """WITH hv AS (SELECT hr % 24 AS hod, hr // 24 AS day, v FROM (
           SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1)),
         p AS (SELECT CAST(sum(CAST(sign(b.v - a.v) AS BIGINT))
               AS BIGINT) AS s
           FROM hv a JOIN hv b
             ON a.hod = b.hod AND a.day < b.day),
         t AS (SELECT hod, CAST(sum(t) AS BIGINT) AS nh,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsumh
           FROM (SELECT hod, v, CAST(count(*) AS BIGINT) AS t
                 FROM hv GROUP BY 1, 2) GROUP BY 1),
         w AS (SELECT CAST(count(*) AS BIGINT) AS n_seasons,
             CAST(sum(nh) AS BIGINT) AS n,
             CAST(sum(nh * (nh - 1) * (2 * nh + 5) - tsumh) AS BIGINT)
               AS varnum
           FROM t),
         d AS (SELECT s, n_seasons, n, varnum,
             CAST(varnum AS DOUBLE) / 18.0 AS vs
           FROM p CROSS JOIN w)
         SELECT n_seasons, n, s,
           round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(vs)
             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(vs)
             ELSE 0.0 END, 4) AS z
         FROM d""",
    "ts_mann_kendall" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         p AS (SELECT CAST(sum(CAST(sign(b.v - a.v) AS BIGINT))
               AS BIGINT) AS s
           FROM hourly a JOIN hourly b ON a.hr < b.hr),
         t AS (SELECT CAST(count(*) AS BIGINT) AS nv,
             CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
           FROM (SELECT v, CAST(count(*) AS BIGINT) AS t
                 FROM hourly GROUP BY 1)),
         d AS (SELECT s, n, tsum, CAST(n AS DOUBLE) AS nd
           FROM p CROSS JOIN t)
         SELECT n, s,
           round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) /
               sqrt((nd * (nd - 1.0) * (2.0 * nd + 5.0) -
                 CAST(tsum AS DOUBLE)) / 18.0)
             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) /
               sqrt((nd * (nd - 1.0) * (2.0 * nd + 5.0) -
                 CAST(tsum AS DOUBLE)) / 18.0)
             ELSE 0.0 END, 4) AS z
         FROM d""",
    "ts_matrix_profile" ->
      """WITH daily AS (SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         el AS (SELECT event_type, t.k, d - t.k AS i, v
           FROM daily CROSS JOIN range(0, 7) t(k)),
         pairs AS (SELECT a.event_type, a.i, b.i AS j,
             CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d2
           FROM el a JOIN el b ON a.event_type = b.event_type
             AND a.k = b.k AND abs(a.i - b.i) >= 4
           GROUP BY 1, 2, 3 HAVING count(*) = 7)
         SELECT event_type, start_day, nn_day, dist2
         FROM (SELECT event_type, i AS start_day, j AS nn_day,
             d2 AS dist2, row_number() OVER (PARTITION BY event_type, i
               ORDER BY d2, j) AS rn
           FROM pairs) WHERE rn = 1""",
    "st_hodges_lehmann" ->
      """WITH daily AS (SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         w AS (SELECT a.event_type,
             CASE WHEN a.d = b.d THEN 1 ELSE 0 END AS self_pair,
             a.v + b.v AS s
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.d <= b.d)
         SELECT event_type, CAST(sum(self_pair) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(s, 0.5) / 2e6, 6) AS hl
         FROM w GROUP BY 1""",
    "st_icc" ->
      """WITH daily AS (SELECT
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             event_type,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
           FROM daily),
         complete AS (SELECT d FROM daily CROSS JOIN kk
           GROUP BY d, k HAVING count(*) = max(k)),
         m AS (SELECT daily.* FROM daily JOIN complete USING (d)),
         dims AS (SELECT CAST(count(DISTINCT d) AS BIGINT) n,
             CAST(count(DISTINCT event_type) AS BIGINT) k,
             CAST(sum(v) AS HUGEINT) g,
             sum(CAST(v AS HUGEINT) * v) ssq FROM m),
         r AS (SELECT sum(CAST(t AS HUGEINT) * t) st2 FROM
           (SELECT d, CAST(sum(v) AS BIGINT) t FROM m GROUP BY 1)),
         c AS (SELECT sum(CAST(cc AS HUGEINT) * cc) sc2 FROM
           (SELECT event_type, CAST(sum(v) AS BIGINT) cc
            FROM m GROUP BY 1)),
         ss AS (SELECT n, k,
             n * k * ssq - g * g AS sstN,
             n * st2 - g * g AS ssrN,
             k * sc2 - g * g AS sscN
           FROM dims, r, c),
         ms AS (SELECT n, k,
             CAST(ssrN AS DOUBLE) / (n - 1) AS msr,
             CAST(sscN AS DOUBLE) / (k - 1) AS msc,
             CAST(sstN - ssrN - sscN AS DOUBLE) / ((n - 1) * (k - 1))
               AS mse
           FROM ss)
         SELECT n AS n_days, k AS k_items,
           round((msr - mse) / nullif(msr + (k - 1) * mse
             + CAST(k AS DOUBLE) / n * (msc - mse), 0.0), 6) AS icc21,
           round((msr - mse) / nullif(msr + (k - 1) * mse, 0.0), 6)
             AS icc31
         FROM ms""",
    "st_cmh" ->
      """WITH cell AS (SELECT stratum,
             CAST(sum(CASE WHEN arm = 'B' AND yes THEN 1 ELSE 0 END)
               AS BIGINT) a,
             CAST(sum(CASE WHEN arm = 'B' AND NOT yes THEN 1 ELSE 0 END)
               AS BIGINT) b,
             CAST(sum(CASE WHEN arm = 'A' AND yes THEN 1 ELSE 0 END)
               AS BIGINT) c,
             CAST(sum(CASE WHEN arm = 'A' AND NOT yes THEN 1 ELSE 0 END)
               AS BIGINT) d
           FROM (SELECT event_type AS stratum,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                 < '8' THEN 'A' ELSE 'B' END AS arm,
               value >= 100.0 AS yes
             FROM events) GROUP BY 1),
         k AS (SELECT a, b, c, d, a + b + c + d AS n,
             a + b AS r1, c + d AS r0, a + c AS c1, b + d AS c0
           FROM cell WHERE a + b + c + d > 1),
         q AS (SELECT
             CAST(round((a - CAST(r1 AS DOUBLE) * c1 / n) * 1e6)
               AS BIGINT) AS dev6,
             CAST(round(CAST(r1 AS DOUBLE) * r0 * c1 * c0
               / (CAST(n AS DOUBLE) * n * (n - 1)) * 1e6) AS BIGINT)
               AS v6,
             CAST(round(CAST(a AS DOUBLE) * d / n * 1e6) AS BIGINT)
               AS adn6,
             CAST(round(CAST(b AS DOUBLE) * c / n * 1e6) AS BIGINT)
               AS bcn6
           FROM k)
         SELECT CAST(count(*) AS BIGINT) AS n_strata,
           round(CAST(sum(dev6) AS DOUBLE) * sum(dev6) / 1e6
             / nullif(CAST(sum(v6) AS DOUBLE), 0.0), 6) AS cmh,
           round(CAST(sum(adn6) AS DOUBLE)
             / nullif(CAST(sum(bcn6) AS DOUBLE), 0.0), 6) AS or_mh
         FROM q""",
    "st_breslow_day" ->
      """WITH cell AS (SELECT stratum,
             CAST(sum(CASE WHEN arm = 'B' AND yes THEN 1 ELSE 0 END)
               AS BIGINT) a,
             CAST(sum(CASE WHEN arm = 'B' AND NOT yes THEN 1 ELSE 0 END)
               AS BIGINT) b,
             CAST(sum(CASE WHEN arm = 'A' AND yes THEN 1 ELSE 0 END)
               AS BIGINT) c,
             CAST(sum(CASE WHEN arm = 'A' AND NOT yes THEN 1 ELSE 0 END)
               AS BIGINT) d
           FROM (SELECT event_type AS stratum,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                 < '8' THEN 'A' ELSE 'B' END AS arm,
               value >= 100.0 AS yes
             FROM events) GROUP BY 1),
         k AS (SELECT a, a + b + c + d AS n, a + b AS r1, a + c AS c1
           FROM cell
           WHERE a + b > 0 AND a + c > 0 AND a + b < a + b + c + d
             AND a + c < a + b + c + d),
         orx AS (SELECT
             CAST(sum(CAST(round(CAST(a AS DOUBLE) * (n - r1 - c1 + a)
                 / n * 1e6) AS BIGINT)) AS DOUBLE)
             / nullif(CAST(sum(CAST(round(CAST(r1 - a AS DOUBLE)
                 * (c1 - a) / n * 1e6) AS BIGINT)) AS DOUBLE), 0.0)
               AS or_mh
           FROM k),
         fit AS (SELECT a, or_mh,
             CASE WHEN abs(or_mh - 1.0) < 1e-12
               THEN CAST(r1 AS DOUBLE) * c1 / n
               ELSE ((CAST(r1 AS DOUBLE) + c1) * or_mh
                   + (CAST(n AS DOUBLE) - r1 - c1)
                 - sqrt(((CAST(r1 AS DOUBLE) + c1) * or_mh
                     + (CAST(n AS DOUBLE) - r1 - c1))
                   * ((CAST(r1 AS DOUBLE) + c1) * or_mh
                     + (CAST(n AS DOUBLE) - r1 - c1))
                   - 4.0 * (or_mh - 1.0)
                     * (or_mh * r1 * c1)))
                 / (2.0 * (or_mh - 1.0)) END AS af,
             CAST(r1 AS DOUBLE) AS r1d, CAST(c1 AS DOUBLE) AS c1d,
             CAST(n AS DOUBLE) AS nd
           FROM k CROSS JOIN orx),
         q AS (SELECT or_mh,
             CAST(round((a - af) * (a - af)
               / (1.0 / (1.0 / af + 1.0 / (r1d - af) + 1.0 / (c1d - af)
                 + 1.0 / (nd - r1d - c1d + af)))
               * 1e6) AS BIGINT) AS q6
           FROM fit)
         SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(count(*) - 1 AS BIGINT) AS df,
           round(max(or_mh), 6) AS or_mh,
           round(CAST(sum(q6) AS DOUBLE) / 1e6, 6) AS bd_chi2
         FROM q""",
    "st_mood" ->
      """WITH cnt AS (SELECT value AS v, CAST(count(*) AS BIGINT) AS t
           FROM events GROUP BY 1),
         n_ AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM cnt),
         cum AS (SELECT v, sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM cnt),
         med AS (SELECT min(v) AS med FROM cum CROSS JOIN n_
           WHERE c >= (n + 1) // 2),
         cell AS (SELECT event_type AS g,
             CAST(sum(CASE WHEN value > med THEN 1 ELSE 0 END)
               AS BIGINT) AS a,
             CAST(count(*) AS BIGINT) AS tot, max(med) AS med
           FROM events CROSS JOIN med GROUP BY 1),
         tots AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
             CAST(sum(tot) AS BIGINT) AS n FROM cell),
         q AS (SELECT med, n,
             CAST(round(((CAST(a AS DOUBLE)
                 - CAST(tot AS DOUBLE) * ta / n)
               * (CAST(a AS DOUBLE) - CAST(tot AS DOUBLE) * ta / n)
               / (CAST(tot AS DOUBLE) * ta / n)
             + (CAST(tot - a AS DOUBLE)
                 - CAST(tot AS DOUBLE) * (n - ta) / n)
               * (CAST(tot - a AS DOUBLE)
                 - CAST(tot AS DOUBLE) * (n - ta) / n)
               / (CAST(tot AS DOUBLE) * (n - ta) / n)) * 1e6)
               AS BIGINT) AS q6
           FROM cell CROSS JOIN tots)
         SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS k_groups,
           CAST(count(*) - 1 AS BIGINT) AS df, max(med) AS med,
           round(CAST(sum(q6) AS DOUBLE) / 1e6, 6) AS chi2
         FROM q""",
    "st_ansari" ->
      """WITH pts AS (SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM pts),
         rk AS (SELECT ca, ca + cb AS t,
             2 * coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (ca + cb) + 1 AS mr2
           FROM pts),
         sc AS (SELECT ca, t,
             least(mr2, 2 * (na + nb + 1) - mr2) AS s2
           FROM rk CROSS JOIN tot),
         agg AS (SELECT sum(CAST(ca * s2 AS HUGEINT)) AS ab2,
             sum(CAST(t * s2 AS HUGEINT)) AS ss2,
             sum(CAST(t AS HUGEINT) * CAST(s2 * s2 AS HUGEINT))
               AS ss2sq
           FROM sc)
         SELECT na AS n_a, nb AS n_b,
           CAST(ab2 AS DOUBLE) / 2.0 AS ab,
           round((CAST(ab2 AS DOUBLE) - CAST(na AS DOUBLE)
               * (CAST(ss2 AS DOUBLE) / CAST(na + nb AS DOUBLE)))
             / nullif(sqrt(CAST(na AS DOUBLE) * nb
               / (CAST(na + nb AS DOUBLE)
                 * (CAST(na + nb AS DOUBLE) - 1.0))
               * (CAST(ss2sq AS DOUBLE) - CAST(ss2 AS DOUBLE)
                 * CAST(ss2 AS DOUBLE) / CAST(na + nb AS DOUBLE))),
               0.0), 6) AS z
         FROM agg CROSS JOIN tot""",
    "st_grubbs" ->
      """WITH hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT)
               AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv,
             sum(CAST(v AS HUGEINT) * v) AS svv FROM hourly),
         sc AS (SELECT hr, n, sv, svv, abs(n * v - sv) AS adev
           FROM hourly CROSS JOIN m),
         top AS (SELECT max(adev) AS maxdev FROM sc),
         at_ AS (SELECT max(n) AS n, max(sv) AS sv, max(svv) AS svv,
             max(maxdev) AS maxdev, min(hr) AS t_star
           FROM sc CROSS JOIN top WHERE adev = maxdev)
         SELECT n, t_star,
           round(CAST(maxdev AS DOUBLE) / n
             / nullif(sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
               - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))),
               0.0), 6) AS g
         FROM at_""",
    "q36_hierarchy" ->
      """WITH RECURSIVE h AS (
           SELECT c_custkey AS node, c_custkey AS anc,
             CAST(0 AS BIGINT) AS depth
           FROM customer WHERE c_custkey < 10
           UNION ALL
           SELECT c.c_custkey, h.anc, h.depth + 1
           FROM customer c JOIN h ON h.node = c.c_custkey // 10
           WHERE c.c_custkey >= 10)
         SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(count(DISTINCT anc) AS BIGINT) AS n_roots
         FROM h GROUP BY 1""",
    "q37_map_agg" ->
      """WITH cell AS (SELECT l_returnflag AS flag,
             l_linestatus AS status,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM lineitem GROUP BY 1, 2),
         k AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_statuses
           FROM cell GROUP BY 1)
         SELECT flag, status, n_statuses,
           round(cents / 100.0, 2) AS revenue
         FROM cell JOIN k USING (flag)""",
    "q38_array_hof" ->
      """SELECT l_orderkey AS orderkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(c) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN c > 100000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_expensive,
           max(c) AS max_cents, max(c) - min(c) AS span_cents
         FROM (SELECT l_orderkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem)
         GROUP BY 1""",
    "src_json_corrupt" ->
      """SELECT
           CAST(sum(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN o_orderkey % 97 <> 0
             THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
             AS BIGINT) AS good_cents,
           CAST(count(DISTINCT CASE WHEN o_orderkey % 97 <> 0
             THEN o_orderstatus END) AS BIGINT) AS n_status
         FROM orders""",
    "st_somers_d" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         p AS (SELECT sign(b.x - a.x) AS dx, sign(b.y - a.y) AS dy
           FROM hourly a JOIN hourly b ON a.hr < b.hr),
         s AS (SELECT
             CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
             CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nd,
             CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tx,
             CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ty,
             CAST(count(*) AS BIGINT) AS n0
           FROM p)
         SELECT nc, nd, n0,
           round(CAST(nc - nd AS DOUBLE)
             / nullif(CAST(n0 - tx AS DOUBLE), 0.0), 6) AS d_yx,
           round(CAST(nc - nd AS DOUBLE)
             / nullif(CAST(n0 - ty AS DOUBLE), 0.0), 6) AS d_xy
         FROM s""",
    "ts_recurrence" ->
      """WITH hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT)
               AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         mo AS (SELECT CAST(count(*) AS BIGINT) nn,
             CAST(sum(v) AS HUGEINT) sv,
             sum(CAST(v AS HUGEINT) * v) svv FROM hourly),
         r_ AS (SELECT CAST(floor(sqrt(CAST(nn * svv - sv * sv
               AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1))) * 0.2
               + 0.5)
             AS BIGINT) r FROM mo),
         tpl AS (SELECT row_number() OVER (ORDER BY hr) AS i, v AS v0,
             lead(v, 1) OVER (ORDER BY hr) AS v1
           FROM hourly),
         p AS (SELECT abs(a.v0 - b.v0) <= r AS rec,
             a.v1 IS NOT NULL AND b.v1 IS NOT NULL
               AND abs(a.v1 - b.v1) <= r AS recnext, r
           FROM tpl a JOIN tpl b ON a.i < b.i CROSS JOIN r_),
         c AS (SELECT max(r) AS r6, CAST(count(*) AS BIGINT) AS npairs,
             CAST(sum(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT)
               AS nrec,
             CAST(sum(CASE WHEN rec AND recnext THEN 1 ELSE 0 END)
               AS BIGINT) AS ndet
           FROM p)
         SELECT round(r6 / 1e6, 6) AS r, npairs, nrec,
           round(CAST(nrec AS DOUBLE)
             / nullif(CAST(npairs AS DOUBLE), 0.0), 6) AS rr,
           round(CAST(ndet AS DOUBLE)
             / nullif(CAST(nrec AS DOUBLE), 0.0), 6) AS det1
         FROM c""",
    "st_quade" ->
      """WITH b AS (SELECT user_id,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x1,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS x2,
             round(avg(CASE WHEN event_type = 'purchase' THEN value END),
               6) AS x3
           FROM events
           WHERE event_type IN ('click', 'view', 'purchase')
           GROUP BY 1
           HAVING x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL),
         rk AS (SELECT
             2 + 2 * ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END)
                 + (CASE WHEN x3 < x1 THEN 1 ELSE 0 END))
               + (CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
               + (CASE WHEN x3 = x1 THEN 1 ELSE 0 END) AS ra,
             2 + 2 * ((CASE WHEN x1 < x2 THEN 1 ELSE 0 END)
                 + (CASE WHEN x3 < x2 THEN 1 ELSE 0 END))
               + (CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
               + (CASE WHEN x3 = x2 THEN 1 ELSE 0 END) AS rb,
             2 + 2 * ((CASE WHEN x1 < x3 THEN 1 ELSE 0 END)
                 + (CASE WHEN x2 < x3 THEN 1 ELSE 0 END))
               + (CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
               + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END) AS rc,
             CAST(round((greatest(x1, x2, x3) - least(x1, x2, x3))
               * 1e6) AS BIGINT) AS rq
           FROM b),
         cnt AS (SELECT rq, CAST(count(*) AS BIGINT) AS t
           FROM rk GROUP BY 1),
         q2_ AS (SELECT rq,
             2 * coalesce(sum(t) OVER (ORDER BY rq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS q2
           FROM cnt),
         cells AS (SELECT q2 * (ra - 4) AS s1, q2 * (rb - 4) AS s2,
             q2 * (rc - 4) AS s3
           FROM rk JOIN q2_ USING (rq)),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(s1 AS HUGEINT)) AS ss1,
             sum(CAST(s2 AS HUGEINT)) AS ss2,
             sum(CAST(s3 AS HUGEINT)) AS ss3,
             sum(CAST(s1 AS HUGEINT) * s1 + CAST(s2 AS HUGEINT) * s2
               + CAST(s3 AS HUGEINT) * s3) AS a2x16
           FROM cells)
         SELECT n, CAST(3 AS BIGINT) AS k,
           round((CAST(n AS DOUBLE) - 1.0)
             * ((CAST(ss1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
               + CAST(ss2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
               + CAST(ss3 AS DOUBLE) * CAST(ss3 AS DOUBLE))
               / CAST(n AS DOUBLE))
             / nullif(CAST(a2x16 AS DOUBLE)
               - (CAST(ss1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                 + CAST(ss2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                 + CAST(ss3 AS DOUBLE) * CAST(ss3 AS DOUBLE))
               / CAST(n AS DOUBLE), 0.0), 4) AS f,
           CAST(2 AS BIGINT) AS df1, (n - 1) * 2 AS df2
         FROM agg""",
    "ts_kpss" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv FROM daily),
         pts AS (SELECT n, sv,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             sum(v) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv,
             n * v - sv AS ej,
             lag(n * v - sv, 1) OVER (ORDER BY day) AS e1,
             lag(n * v - sv, 2) OVER (ORDER BY day) AS e2,
             lag(n * v - sv, 3) OVER (ORDER BY day) AS e3,
             lag(n * v - sv, 4) OVER (ORDER BY day) AS e4
           FROM daily CROSS JOIN m),
         p2 AS (SELECT n, ej, e1, e2, e3, e4, n * cv - i * sv AS sn
           FROM pts),
         agg AS (SELECT max(n) AS n,
             sum(CAST(sn AS HUGEINT) * sn) AS ssn2,
             sum(CAST(ej AS HUGEINT) * ej) AS g0,
             sum(CAST(ej AS HUGEINT) * e1) AS g1,
             sum(CAST(ej AS HUGEINT) * e2) AS g2,
             sum(CAST(ej AS HUGEINT) * e3) AS g3,
             sum(CAST(ej AS HUGEINT) * e4) AS g4
           FROM p2)
         SELECT n, round(CAST(ssn2 AS DOUBLE)
           / nullif(CAST(n AS DOUBLE) * (CAST(g0 AS DOUBLE)
             + 2.0 * (0.8 * CAST(g1 AS DOUBLE)
               + 0.6 * CAST(g2 AS DOUBLE) + 0.4 * CAST(g3 AS DOUBLE)
               + 0.2 * CAST(g4 AS DOUBLE))), 0.0), 6) AS kpss_eta
         FROM agg""",
    "st_ad" ->
      """WITH pts AS (SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM pts),
         cum AS (SELECT ca + cb AS t,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ma,
             sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
           FROM pts),
         q AS (SELECT na, nb, na + nb AS nt, t, b,
             (na + nb) * ma - na * b AS num
           FROM cum CROSS JOIN tot
           WHERE b < na + nb)
         SELECT na AS n_a, nb AS n_b,
           round(CAST(sum(CAST(round(t * (CAST(num AS DOUBLE) * num)
               / (CAST(b AS DOUBLE) * (nt - b)) / nt * 1e6) AS BIGINT))
             AS DOUBLE) / 1e6, 6) AS a2
         FROM q GROUP BY 1, 2""",
    "st_hoeffding" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         per AS (SELECT a.hr,
             CAST(sum(CASE WHEN a.x > b.x THEN 2 WHEN a.x = b.x THEN 1
               ELSE 0 END) AS BIGINT) AS r2,
             CAST(sum(CASE WHEN a.y > b.y THEN 2 WHEN a.y = b.y THEN 1
               ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum((CASE WHEN a.x > b.x THEN 2 WHEN a.x = b.x THEN 1
                 ELSE 0 END)
               * (CASE WHEN a.y > b.y THEN 2 WHEN a.y = b.y THEN 1
                 ELSE 0 END)) AS BIGINT) AS q4x2
           FROM hourly a CROSS JOIN hourly b GROUP BY 1),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST((q4x2 - 1) * (q4x2 - 5) AS HUGEINT)) AS d1x16,
             sum(CAST((r2 - 1) * (r2 - 3) AS HUGEINT)
               * CAST((s2 - 1) * (s2 - 3) AS HUGEINT)) AS d2x16,
             sum(CAST((r2 - 3) * (s2 - 3) AS HUGEINT)
               * CAST(q4x2 - 1 AS HUGEINT)) AS d3x16
           FROM per)
         SELECT n,
           round(30.0 * ((CAST(n AS DOUBLE) - 2.0)
               * (CAST(n AS DOUBLE) - 3.0) * CAST(d1x16 AS DOUBLE)
             + CAST(d2x16 AS DOUBLE)
             - 2.0 * (CAST(n AS DOUBLE) - 2.0) * CAST(d3x16 AS DOUBLE))
           / (16.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
             * (CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0)
             * (CAST(n AS DOUBLE) - 4.0)), 6) AS hoeffding_d
         FROM agg""",
    "ts_adf" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         lagd AS (SELECT v,
             lag(v, 1) OVER (ORDER BY day) AS l1,
             lag(v, 2) OVER (ORDER BY day) AS l2
           FROM daily),
         pts AS (SELECT CAST(v - l1 AS HUGEINT) AS yy,
             CAST(l1 AS HUGEINT) AS a, CAST(l1 - l2 AS HUGEINT) AS b
           FROM lagd WHERE l2 IS NOT NULL),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(a) AS sa, sum(b) AS sb, sum(yy) AS sy,
             sum(a * a) AS saa, sum(a * b) AS sab, sum(b * b) AS sbb,
             sum(a * yy) AS say, sum(b * yy) AS sby,
             sum(yy * yy) AS syy
           FROM pts),
         d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(sa AS DOUBLE) AS sa, CAST(sb AS DOUBLE) AS sb,
             CAST(sy AS DOUBLE) AS sy, CAST(saa AS DOUBLE) AS saa,
             CAST(sab AS DOUBLE) AS sab, CAST(sbb AS DOUBLE) AS sbb,
             CAST(say AS DOUBLE) AS say, CAST(sby AS DOUBLE) AS sby,
             CAST(syy AS DOUBLE) AS syy
           FROM s),
         c AS (SELECT n, nd, sy, sb, sbb, say, sby, syy,
             nd * (saa * sbb - sab * sab) - sa * (sa * sbb - sab * sb)
               + sb * (sa * sab - saa * sb) AS det,
             sy * (saa * sbb - sab * sab) - sa * (say * sbb - sab * sby)
               + sb * (say * sab - saa * sby) AS d0,
             nd * (say * sbb - sab * sby) - sy * (sa * sbb - sab * sb)
               + sb * (sa * sby - say * sb) AS d1,
             nd * (saa * sby - say * sab) - sa * (sa * sby - say * sb)
               + sy * (sa * sab - saa * sb) AS d2
           FROM d),
         b AS (SELECT n, nd, sb, sbb, det,
             d0 / det AS a0, d1 / det AS b1, d2 / det AS b2,
             syy - d0 / det * sy - d1 / det * say - d2 / det * sby
               AS sse
           FROM c)
         SELECT n, round(b1, 6) AS beta, round(b2, 6) AS gamma,
           round(b1 / nullif(sqrt(sse / (nd - 3.0)
             * (nd * sbb - sb * sb) / det), 0.0), 4) AS adf_t
         FROM b""",
    "st_jonckheere" ->
      """WITH rows_ AS (SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
         cnt AS (SELECT g, v, CAST(count(*) AS BIGINT) t
           FROM rows_ GROUP BY 1, 2),
         grid AS (SELECT gs.g, vs.v, coalesce(cnt.t, 0) AS t
           FROM (SELECT DISTINCT v FROM cnt) vs
           CROSS JOIN (SELECT DISTINCT g FROM cnt) gs
           LEFT JOIN cnt ON cnt.g = gs.g AND cnt.v = vs.v),
         cum AS (SELECT g, v, t,
             coalesce(sum(t) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
           FROM grid),
         pre AS (SELECT g, v, t,
             coalesce(sum(2 * below + t) OVER (PARTITION BY v ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS s
           FROM cum),
         jt2 AS (SELECT sum(CAST(t AS HUGEINT) * s) AS jt2 FROM pre),
         sz AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k,
             sum(CAST(n AS HUGEINT) * n) AS s2,
             sum(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS s3
           FROM (SELECT g, CAST(count(*) AS BIGINT) n
                 FROM rows_ GROUP BY 1))
         SELECT nt AS n, k, CAST(jt2 AS DOUBLE) / 2 AS jt,
           round(CAST(CAST(nt AS HUGEINT) * nt - s2 AS DOUBLE) / 4, 6)
             AS mu,
           round((CAST(jt2 AS DOUBLE) / 2
               - CAST(CAST(nt AS HUGEINT) * nt - s2 AS DOUBLE) / 4)
             / nullif(sqrt(CAST(CAST(nt AS HUGEINT) * nt * (2 * nt + 3)
               - s3 AS DOUBLE) / 72), 0.0), 6) AS z
         FROM jt2, sz""",
    "st_durbin_watson" ->
      """WITH hourly AS (SELECT
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT)
               AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS y
           FROM events WHERE event_type = 'click' GROUP BY 1),
         pts AS (SELECT hr - (SELECT min(hr) FROM hourly) AS x, y
           FROM hourly),
         mo AS (SELECT CAST(count(*) AS BIGINT) n,
             CAST(sum(x) AS HUGEINT) sx, CAST(sum(y) AS HUGEINT) sy,
             sum(CAST(x AS HUGEINT) * x) sxx,
             sum(CAST(x AS HUGEINT) * y) sxy FROM pts),
         co AS (SELECT n, sx, sy,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS bm FROM mo),
         co2 AS (SELECT n, bm,
             (CAST(sy AS DOUBLE) - bm * CAST(sx AS DOUBLE)) / n AS am
           FROM co),
         res AS (SELECT x,
             CAST(floor(y - am - bm * x + 0.5) AS BIGINT) AS e
           FROM pts, co2),
         lagged AS (SELECT e, lag(e) OVER (ORDER BY x) AS ep FROM res),
         s AS (SELECT CAST(count(*) AS BIGINT) n,
             sum(CAST(e AS HUGEINT) * e) AS see,
             sum(CASE WHEN ep IS NULL THEN CAST(0 AS HUGEINT)
               ELSE CAST(e - ep AS HUGEINT) * (e - ep) END) AS sde
           FROM lagged)
         SELECT s.n, round(co2.bm / 1e6, 6) AS slope,
           round(CAST(sde AS DOUBLE)
             / nullif(CAST(see AS DOUBLE), 0.0), 6) AS dw,
           round(1.0 - CAST(sde AS DOUBLE)
             / nullif(CAST(see AS DOUBLE), 0.0) / 2.0, 6) AS rho
         FROM s, co2""",
    "st_fleiss_kappa" ->
      """WITH r AS (SELECT o_orderkey, u.cat FROM orders, unnest([
             CASE WHEN o_totalprice < 50000 THEN 'S'
               WHEN o_totalprice < 150000 THEN 'M' ELSE 'L' END,
             CASE WHEN o_totalprice < 60000 THEN 'S'
               WHEN o_totalprice < 140000 THEN 'M' ELSE 'L' END,
             CASE WHEN o_totalprice < 55000 THEN 'S'
               WHEN o_totalprice < 145000 THEN 'M' ELSE 'L' END])
             AS u(cat)),
         nij AS (SELECT o_orderkey, cat, CAST(count(*) AS BIGINT) AS nij
           FROM r GROUP BY 1, 2),
         subj AS (SELECT CAST(count(*) AS BIGINT) AS nsub,
             CAST(sum(ssq) AS BIGINT) AS ssqsum
           FROM (SELECT o_orderkey, sum(nij * nij) AS ssq
                 FROM nij GROUP BY 1)),
         cats AS (SELECT sum(CAST(cj AS HUGEINT) * cj) AS cjsq
           FROM (SELECT cat, CAST(sum(nij) AS BIGINT) AS cj
                 FROM nij GROUP BY 1))
         SELECT nsub AS n_subjects,
           round(CAST(ssqsum - 3 * nsub AS DOUBLE)
             / (6.0 * CAST(nsub AS DOUBLE)), 6) AS p_bar,
           round(CAST(cjsq AS DOUBLE)
             / (9.0 * CAST(nsub AS DOUBLE) * CAST(nsub AS DOUBLE)), 6)
             AS p_e,
           round((CAST(ssqsum - 3 * nsub AS DOUBLE)
               / (6.0 * CAST(nsub AS DOUBLE))
             - CAST(cjsq AS DOUBLE)
               / (9.0 * CAST(nsub AS DOUBLE) * CAST(nsub AS DOUBLE)))
             / nullif(1.0 - CAST(cjsq AS DOUBLE)
               / (9.0 * CAST(nsub AS DOUBLE) * CAST(nsub AS DOUBLE)),
               0.0), 6) AS kappa
         FROM subj CROSS JOIN cats""",
    "st_cronbach_alpha" ->
      """WITH daily AS (SELECT
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             event_type,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
           FROM daily),
         byday AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(v) AS BIGINT) AS t
           FROM daily GROUP BY 1),
         complete AS (SELECT d, t FROM byday CROSS JOIN k
           WHERE cnt = k.k),
         items AS (SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k_items,
             sum(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s) AS a
           FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v) AS BIGINT) AS s,
                   sum(CAST(v AS HUGEINT) * v) AS ss
                 FROM daily JOIN complete USING (d) GROUP BY 1)),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nt,
             CAST(sum(t) AS BIGINT) AS st,
             sum(CAST(t AS HUGEINT) * t) AS sst
           FROM complete)
         SELECT k_items, nt AS n_days,
           round(CAST(k_items AS DOUBLE) / (CAST(k_items AS DOUBLE) - 1.0)
             * (1.0 - CAST(a AS DOUBLE)
               / nullif(CAST(CAST(nt AS HUGEINT) * sst
                   - CAST(st AS HUGEINT) * st AS DOUBLE), 0.0)), 6)
             AS alpha
         FROM items CROSS JOIN tot""",
    "st_did" ->
      """WITH c AS (SELECT
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
               THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN ts < DATE '2024-01-15' THEN 'pre' ELSE 'post'
               END AS period,
             CAST(round(value * 1e6) AS BIGINT) AS v
           FROM events),
         g AS (SELECT arm, period, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s,
             sum(CAST(v AS HUGEINT) * v) AS ss
           FROM c GROUP BY 1, 2),
         m AS (SELECT arm, period, n,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mean,
             CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s
                 AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 1e12
               AS var
           FROM g),
         p AS (SELECT
             max(CASE WHEN arm = 'A' AND period = 'pre' THEN n END)
               AS apre_n,
             max(CASE WHEN arm = 'A' AND period = 'post' THEN n END)
               AS apost_n,
             max(CASE WHEN arm = 'B' AND period = 'pre' THEN n END)
               AS bpre_n,
             max(CASE WHEN arm = 'B' AND period = 'post' THEN n END)
               AS bpost_n,
             max(CASE WHEN arm = 'A' AND period = 'pre' THEN mean END)
               AS apre_m,
             max(CASE WHEN arm = 'A' AND period = 'post' THEN mean END)
               AS apost_m,
             max(CASE WHEN arm = 'B' AND period = 'pre' THEN mean END)
               AS bpre_m,
             max(CASE WHEN arm = 'B' AND period = 'post' THEN mean END)
               AS bpost_m,
             max(CASE WHEN arm = 'A' AND period = 'pre' THEN var END)
               AS apre_v,
             max(CASE WHEN arm = 'A' AND period = 'post' THEN var END)
               AS apost_v,
             max(CASE WHEN arm = 'B' AND period = 'pre' THEN var END)
               AS bpre_v,
             max(CASE WHEN arm = 'B' AND period = 'post' THEN var END)
               AS bpost_v
           FROM m)
         SELECT apre_n AS n_ctl_pre, apost_n AS n_ctl_post,
           bpre_n AS n_trt_pre, bpost_n AS n_trt_post,
           round((bpost_m - bpre_m) - (apost_m - apre_m), 6) AS did,
           round(sqrt(apre_v / apre_n + apost_v / apost_n
             + bpre_v / bpre_n + bpost_v / bpost_n), 6) AS se,
           round(((bpost_m - bpre_m) - (apost_m - apre_m))
             / nullif(sqrt(apre_v / apre_n + apost_v / apost_n
               + bpre_v / bpre_n + bpost_v / bpost_n), 0.0), 4)
             AS t_stat
         FROM p""",
    "st_boxcox" ->
      """WITH g AS (SELECT CAST(unnest([-1.0, -0.5, 0.0, 0.5, 1.0, 2.0])
             AS DOUBLE) AS lambda),
         t AS (SELECT lambda,
             CASE WHEN lambda = 0 THEN ln(value)
                  ELSE (pow(value, lambda) - 1) / lambda END AS tv,
             ln(value) AS lv
           FROM events CROSS JOIN g),
         a AS (SELECT lambda, CAST(count(*) AS DOUBLE) AS n,
             sum(tv) AS mt, sum(tv * tv) AS qt, sum(lv) AS slny
           FROM t GROUP BY 1),
         l AS (SELECT lambda,
             round(-0.5 * n * ln(qt / n - (mt / n) * (mt / n))
               + (lambda - 1) * slny, 4) AS ll
           FROM a)
         SELECT lambda, ll, ll = max(ll) OVER () AS best
         FROM l ORDER BY lambda""",
    "ts_profile_outlier" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         h AS (SELECT hr // 24 AS day, hr % 24 AS hod, v FROM hourly),
         p AS (SELECT hod, round(avg(v), 6) AS pv FROM h GROUP BY 1)
         SELECT day, CAST(count(*) AS BIGINT) AS n_hours,
           round(sqrt(avg((v - pv) * (v - pv))), 6) AS rms_dev
         FROM h JOIN p ON h.hod = p.hod
         GROUP BY day ORDER BY rms_dev DESC, day LIMIT 10""",
    "ts_sax" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         h AS (SELECT hr, v, hr // 24 AS day,
             (hr % 24) // 4 AS block FROM hourly),
         ds AS (SELECT day, avg(v) AS mu, stddev_pop(v) AS sd,
             count(*) AS nh FROM h GROUP BY 1 HAVING count(*) = 24),
         paa AS (SELECT day, block, avg(v) AS bv FROM h GROUP BY 1, 2),
         sym AS (SELECT p.day, p.block,
             CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
                  WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS s
           FROM (SELECT p.day, p.block,
               round((p.bv - d.mu) / nullif(d.sd, 0), 6) AS z
             FROM paa p JOIN ds d ON p.day = d.day) p),
         words AS (SELECT day,
             string_agg(s, '' ORDER BY block) AS word
           FROM sym GROUP BY 1)
         SELECT day, word,
           CAST(count(*) OVER (PARTITION BY word) AS BIGINT)
             AS n_days_sharing
         FROM words ORDER BY day""",
    "src_bloom_skip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem WHERE l_orderkey = 1500""",
    "ml_lift" ->
      """WITH s AS (SELECT doc_id,
             round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / length(text) * 0.5
               + len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a')))
                 / len(string_split(text, ' ')) * 0.3
               + least(1.0, len(string_split(text, ' ')) / 100.0) * 0.2,
               6) AS q,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           FROM documents),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM s),
         d AS (SELECT 1 + (row_number() OVER (ORDER BY q DESC, doc_id)
               - 1) * 10 // nd AS decile, pos
           FROM s CROSS JOIN tt),
         p AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos
           FROM d GROUP BY 1),
         g AS (SELECT CAST(sum(n) AS BIGINT) AS gn,
             CAST(sum(n_pos) AS BIGINT) AS gp FROM p)
         SELECT decile, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / n
             / (CAST(gp AS DOUBLE) / gn), 6) AS lift,
           round(CAST(sum(n_pos) OVER w AS DOUBLE) / sum(n) OVER w
             / (CAST(gp AS DOUBLE) / gn), 6) AS cum_lift
         FROM p CROSS JOIN g
         WINDOW w AS (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY decile""",
    "st_meta" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             count(CASE WHEN event_type = 'click' THEN 1 END) AS na,
             avg(CASE WHEN event_type = 'click' THEN value END) AS ma,
             var_samp(CASE WHEN event_type = 'click' THEN value END)
               AS va,
             count(CASE WHEN event_type = 'view' THEN 1 END) AS nb,
             avg(CASE WHEN event_type = 'view' THEN value END) AS mb,
             var_samp(CASE WHEN event_type = 'view' THEN value END) AS vb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1 HAVING na > 1 AND nb > 1),
         s AS (SELECT round(ma - mb, 6) AS d,
             round(1.0 / (va / na + vb / nb), 6) AS w FROM daily),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k,
             sum(w * d) AS swd, sum(w) AS sw, sum(w * d * d) AS swd2
           FROM s)
         SELECT k, round(swd / sw, 6) AS pooled_effect,
           round(sqrt(1.0 / sw), 6) AS pooled_se,
           round(swd2 - swd * swd / sw, 4) AS q_het,
           round(greatest(0.0, (swd2 - swd * swd / sw - k + 1)
             / nullif(swd2 - swd * swd / sw, 0)), 6) AS i2
         FROM a""",
    "dq_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         arm AS (SELECT
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
               THEN 'A' ELSE 'B' END AS arm FROM u),
         c AS (SELECT
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
           FROM arm)
         SELECT n_a, n_b,
           round((n_a - n_b) * (n_a - n_b)
             / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
           (n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE) > 3.841
             AS srm_flag
         FROM c""",
    // st_bootstrap / st_permutation: both engines draw IDENTICAL
    // resamples from the salted-md5 hex of (ids, replicate, seed) —
    // the Poisson weight is a lexicographic compare of the 13-hex
    // prefix against ⌊cdf·2^52⌋ literals (Stats.PoissonHexCdf), the
    // permutation coin is the first-digit-<'8' rule — and micro-unit
    // quantization makes every replicate statistic a ratio of exact
    // integer sums, so the doubles agree bit-for-bit.
    "st_bootstrap" ->
      """WITH b AS (SELECT range AS b FROM range(1, 101)),
         e AS (SELECT l.l_returnflag AS g, b.b,
             CAST(round(l.l_extendedprice * 1e6) AS BIGINT) AS x6,
             substr(md5(concat_ws(':', l.l_orderkey, l.l_linenumber,
               b.b, '42')), 1, 13) AS h
           FROM lineitem l CROSS JOIN b),
         w AS (SELECT g, b, x6,
             CASE WHEN h < '5e2d58d8b3bce' THEN 0
                  WHEN h < 'bc5ab1b16779c' THEN 1
                  WHEN h < 'eb715e1dc1583' THEN 2
                  WHEN h < 'fb23979734a25' THEN 3
                  WHEN h < 'ff1025f59174e' THEN 4
                  WHEN h < 'ffd90f3ba4056' THEN 5
                  WHEN h < 'fffa8b71fc72c' THEN 6
                  WHEN h < 'ffff540c0914b' THEN 7
                  WHEN h < 'ffffed1f4aa8f' THEN 8
                  ELSE 9 END AS w
           FROM e),
         rm AS (SELECT g, b,
             CAST(sum(CAST(w * x6 AS HUGEINT)) AS DOUBLE)
               / nullif(CAST(sum(CAST(w AS BIGINT)) AS DOUBLE), 0.0)
               / 1e6 AS m
           FROM w GROUP BY 1, 2),
         ci AS (SELECT g, round(quantile_cont(m, 0.025), 6) AS ci_lo,
             round(quantile_cont(m, 0.975), 6) AS ci_hi
           FROM rm GROUP BY 1),
         pt AS (SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(round(l_extendedprice * 1e6) AS HUGEINT))
                 AS DOUBLE) / count(*) / 1e6, 6) AS mean
           FROM lineitem GROUP BY 1)
         SELECT ci.g AS l_returnflag, pt.n, pt.mean, ci.ci_lo, ci.ci_hi
         FROM ci JOIN pt ON ci.g = pt.g""",
    "st_permutation" ->
      """WITH two AS (SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 1e6) AS BIGINT) AS x6,
             l_orderkey, l_linenumber
           FROM lineitem WHERE l_returnflag IN ('R', 'N')),
         o AS (SELECT
             sum(CASE WHEN g = 'R' THEN CAST(x6 AS HUGEINT) END) AS sa,
             sum(CASE WHEN g = 'N' THEN CAST(x6 AS HUGEINT) END) AS sb,
             CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
           FROM two),
         ot AS (SELECT n_a, n_b,
             (CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
               / 1e6 AS t
           FROM o),
         r AS (SELECT range AS b FROM range(1, 200)),
         c AS (SELECT t2.x6, r.b,
             substr(md5(concat_ws(':', t2.l_orderkey, t2.l_linenumber,
               r.b, '7')), 1, 1) < '8' AS c0
           FROM two t2 CROSS JOIN r),
         rs AS (SELECT b,
             (CAST(sum(CASE WHEN c0 THEN CAST(x6 AS HUGEINT) END)
                 AS DOUBLE)
               / sum(CASE WHEN c0 THEN 1 ELSE 0 END)
              - CAST(sum(CASE WHEN NOT c0 THEN CAST(x6 AS HUGEINT) END)
                 AS DOUBLE)
               / sum(CASE WHEN NOT c0 THEN 1 ELSE 0 END)) / 1e6 AS tb
           FROM c GROUP BY 1)
         SELECT ot.n_a, ot.n_b, round(ot.t, 6) AS mean_diff,
           round((1.0 + sum(CASE WHEN abs(rs.tb) >= abs(ot.t)
               THEN 1 ELSE 0 END)) / (1.0 + count(*)), 6) AS p_value
         FROM rs, ot GROUP BY ot.n_a, ot.n_b, ot.t""",
    // '199999' = lowercase hex of floor(0.1 * 16^6) — weightedSample's
    // 6-digit threshold for p = 0.1 (clamp is a no-op below 1-2^-24)
    "st_sample" ->
      """SELECT CAST(count(*) AS BIGINT) AS sampled_rows FROM customer
         WHERE substr(md5('wt' || CAST(c_custkey AS VARCHAR)), 1, 6)
           < '199999'""",
    "st_cuped" ->
      """WITH u AS (SELECT user_id,
             round(sum(CASE WHEN ts < DATE '2024-01-15' THEN value
               ELSE 0.0 END), 6) AS x,
             round(sum(CASE WHEN ts >= DATE '2024-01-15' THEN value
               ELSE 0.0 END), 6) AS y
           FROM events GROUP BY 1),
         t AS (SELECT
             round(covar_pop(x, y) / nullif(var_pop(x), 0), 6) AS theta,
             round(avg(x), 6) AS mx FROM u),
         a AS (SELECT x, y, theta,
             y - theta * (x - mx) AS yadj FROM u CROSS JOIN t)
         SELECT CAST(count(*) AS BIGINT) AS n, max(theta) AS theta,
           round(var_pop(y), 4) AS var_y,
           round(var_pop(yadj), 4) AS var_adjusted,
           round(1.0 - var_pop(yadj) / nullif(var_pop(y), 0), 6)
             AS var_reduction
         FROM a""",
    "ts_conformal" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         p AS (SELECT hr, v, lag(v, 24) OVER (ORDER BY hr) AS pred
           FROM hourly),
         r AS (SELECT hr, v, pred, round(abs(v - pred), 6) AS r
           FROM p WHERE pred IS NOT NULL),
         m AS (SELECT min(hr) AS h0 FROM r),
         mk AS (SELECT r.*, hr < h0 + 14 * 24 AS cal
           FROM r CROSS JOIN m),
         c AS (SELECT r, row_number() OVER (ORDER BY r, hr) AS rk
           FROM mk WHERE cal),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS nc
           FROM mk WHERE cal),
         q AS (SELECT r AS q, nc FROM c CROSS JOIN nc
           WHERE rk = least(CAST(ceil(0.9 * (nc + 1)) AS BIGINT), nc))
         SELECT max(nc) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test, max(q) AS q,
           round(CAST(sum(CASE WHEN mk.r <= q THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS coverage,
           CAST(0.9 AS DOUBLE) AS nominal
         FROM mk CROSS JOIN q WHERE NOT cal""",
    "st_sprt" ->
      """WITH b AS (SELECT epoch_us(ts) AS t, event_id,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS x
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT t, event_id, x,
             CAST(row_number() OVER w AS BIGINT) AS n,
             CAST(sum(x) OVER w AS BIGINT) AS cx
           FROM b WINDOW w AS (ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         l AS (SELECT n,
             round(cx * ln(0.6 / 0.4) + (n - cx) * ln(0.4 / 0.6), 6)
               AS llr
           FROM c),
         k AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
             min(CASE WHEN llr >= round(ln(19.0), 6)
                   OR llr <= round(ln(1.0 / 19.0), 6)
                 THEN n END) AS stop_n
           FROM l)
         SELECT n_total, stop_n,
           (SELECT llr FROM l WHERE l.n = k.stop_n) AS llr_stop,
           CASE WHEN (SELECT llr FROM l WHERE l.n = k.stop_n)
                  >= round(ln(19.0), 6) THEN 'accept_h1'
                WHEN (SELECT llr FROM l WHERE l.n = k.stop_n)
                  <= round(ln(1.0 / 19.0), 6) THEN 'accept_h0'
                ELSE 'continue' END AS decision
         FROM k""",
    "pipe_pad_efficiency" ->
      """WITH d AS (SELECT
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
           FROM documents),
         b AS (SELECT nt,
             CASE WHEN nt <= 32 THEN 32 WHEN nt <= 64 THEN 64
                  WHEN nt <= 128 THEN 128 WHEN nt <= 256 THEN 256
                  WHEN nt <= 512 THEN 512 WHEN nt <= 1024 THEN 1024
                  WHEN nt <= 2048 THEN 2048 WHEN nt <= 4096 THEN 4096
                  ELSE -1 END AS bucket_cap
           FROM d),
         p AS (SELECT
             CAST(CASE WHEN bucket_cap = -1 THEN max(nt)
               ELSE bucket_cap END AS BIGINT) AS bucket_cap,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             max(nt) AS max_tokens
           FROM b GROUP BY b.bucket_cap),
         g AS (SELECT CAST(sum(n_docs) AS BIGINT) AS gd,
             CAST(sum(n_tokens) AS BIGINT) AS gt,
             max(max_tokens) AS gm FROM p)
         SELECT bucket_cap, n_docs, n_tokens,
           round(1.0 - CAST(n_tokens AS DOUBLE) / (n_docs * bucket_cap),
             6) AS padding_waste,
           round(1.0 - CAST(gt AS DOUBLE) / (gd * gm), 6)
             AS unbucketed_waste
         FROM p CROSS JOIN g ORDER BY bucket_cap""",
    // tx_burrows_delta (r13 rework — the seed-45 sf0.05 gate caught the
    // round6(avg(float)) class): exact e6 rates, integer power sums,
    // integer z numerators over a shared per-word denominator,
    // nano-quantized terms, one half-up close — identical to the engine.
    "tx_burrows_delta" ->
      """WITH toks AS (SELECT source,
             unnest(string_split(text, ' ')) AS w
           FROM documents),
         mfw AS (SELECT w FROM (SELECT w, count(*) AS f FROM toks
             GROUP BY 1 ORDER BY f DESC, w LIMIT 20)),
         totals AS (SELECT source, CAST(count(*) AS BIGINT) AS nt
           FROM toks GROUP BY 1),
         cnt AS (SELECT source, t.w, CAST(count(*) AS BIGINT) AS c
           FROM toks t JOIN mfw ON t.w = mfw.w GROUP BY 1, 2),
         dense AS (SELECT totals.source, mfw.w,
             (coalesce(c, 0) * 2000000000 + nt) // (2 * nt) AS rate_e6
           FROM totals CROSS JOIN mfw
           LEFT JOIN cnt ON cnt.source = totals.source AND cnt.w = mfw.w),
         ws AS (SELECT w, CAST(count(*) AS BIGINT) AS ns,
             CAST(sum(rate_e6) AS BIGINT) AS s1,
             sum(CAST(rate_e6 AS HUGEINT) * rate_e6) AS s2
           FROM dense GROUP BY 1),
         wsf AS (SELECT w, ns, s1,
             sqrt(CAST(ns * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
               / (ns * (ns - 1))) AS sd
           FROM ws),
         z AS (SELECT source, dense.w,
             ns * rate_e6 - s1 AS znum, ns * sd AS zden
           FROM dense JOIN wsf ON dense.w = wsf.w
           WHERE sd > 0),
         p AS (SELECT a.source AS s1, b.source AS s2,
             CAST(floor(CAST(abs(a.znum - b.znum) AS DOUBLE)
               / a.zden * 1e9 + 0.5) AS BIGINT) AS t
           FROM z a JOIN z b ON a.w = b.w AND a.source < b.source)
         SELECT s1, s2,
           CAST((2 * sum(t) + count(*) * 1000)
             // (2 * count(*) * 1000) AS DOUBLE) / 1e6 AS delta
         FROM p GROUP BY 1, 2 ORDER BY delta, s1, s2 LIMIT 10""",
    "ts_variance_ratio" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         d AS (SELECT v - lag(v, 1) OVER w AS d1,
             v - lag(v, 2) OVER w AS d2,
             v - lag(v, 4) OVER w AS d4,
             v - lag(v, 8) OVER w AS d8
           FROM hourly WINDOW w AS (ORDER BY hr)),
         a AS (SELECT var_pop(d1) AS v1,
             var_pop(d2) AS v2, CAST(count(d2) AS DOUBLE) AS n2,
             var_pop(d4) AS v4, CAST(count(d4) AS DOUBLE) AS n4,
             var_pop(d8) AS v8, CAST(count(d8) AS DOUBLE) AS n8
           FROM d),
         u AS (SELECT * FROM (
           SELECT 2 AS q, n2 AS nq, v2 / nullif(2.0 * v1, 0) AS vr FROM a
           UNION ALL
           SELECT 4, n4, v4 / nullif(4.0 * v1, 0) FROM a
           UNION ALL
           SELECT 8, n8, v8 / nullif(8.0 * v1, 0) FROM a))
         SELECT q, CAST(nq AS BIGINT) AS n, round(vr, 6) AS vr,
           round((vr - 1) / sqrt(2.0 * (2 * q - 1) * (q - 1)
             / (3.0 * q * nq)), 4) AS z
         FROM u ORDER BY q""",
    "ts_spectral_entropy" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         m AS (SELECT round(avg(v), 6) AS vm,
             CAST(count(*) AS BIGINT) AS n FROM hourly),
         c AS (SELECT hr, v - vm AS vc, n FROM hourly CROSS JOIN m),
         x AS (SELECT vc, n, period,
             2.0 * pi() * CAST(hr % period AS DOUBLE) / period AS theta
           FROM c CROSS JOIN
             (SELECT unnest([6, 8, 12, 24, 48, 168]) AS period)),
         g AS (SELECT period, max(n) AS n,
             sum(vc * cos(theta)) AS cc, sum(vc * sin(theta)) AS ss
           FROM x GROUP BY 1),
         pg AS (SELECT period, n,
             round((cc * cc + ss * ss) / CAST(n AS DOUBLE), 4) AS power
           FROM g),
         t AS (SELECT sum(power) AS ptot,
             CAST(count(*) AS BIGINT) AS k, max(n) AS nh FROM pg)
         SELECT max(nh) AS n, max(k) AS n_periods,
           round(max(ptot), 4) AS total_power,
           round(-sum(CASE WHEN power / nullif(ptot, 0) > 0
               THEN power / nullif(ptot, 0) * ln(power / nullif(ptot, 0))
               ELSE 0.0 END) / ln(CAST(max(k) AS DOUBLE)), 6)
             AS spectral_entropy
         FROM pg CROSS JOIN t""",
    "st_partial_corr" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y,
             round(avg(CASE WHEN event_type = 'purchase' THEN value END),
               6) AS z
           FROM events
           WHERE event_type IN ('click', 'view', 'purchase')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL AND z IS NOT NULL),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             round(corr(x, y), 6) AS rxy, round(corr(x, z), 6) AS rxz,
             round(corr(y, z), 6) AS rzy
           FROM hourly)
         SELECT n, rxy,
           round((rxy - rxz * rzy) /
             nullif(sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy)), 0), 6)
             AS partial_r
         FROM m""",
    "ts_periodogram" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         m AS (SELECT round(avg(v), 6) AS vm,
             CAST(count(*) AS BIGINT) AS n FROM hourly),
         c AS (SELECT hr, v - vm AS vc, n FROM hourly CROSS JOIN m),
         x AS (SELECT vc, n, period,
             2.0 * pi() * CAST(hr % period AS DOUBLE) / period AS theta
           FROM c CROSS JOIN
             (SELECT unnest([6, 8, 12, 24, 48, 168]) AS period)),
         g AS (SELECT period, max(n) AS n,
             sum(vc * cos(theta)) AS cc, sum(vc * sin(theta)) AS ss
           FROM x GROUP BY 1)
         SELECT period, n,
           round((cc * cc + ss * ss) / CAST(n AS DOUBLE), 4) AS power
         FROM g""",
    "st_tost" ->
      """WITH s AS (SELECT event_type, count(value) AS n, avg(value) AS m,
             var_samp(value) AS v
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         a AS (SELECT n AS na, m AS ma, v AS va FROM s
           WHERE event_type = 'click'),
         b AS (SELECT n AS nb, m AS mb, v AS vb FROM s
           WHERE event_type = 'view'),
         d AS (SELECT na, nb, ma - mb AS diff,
             sqrt(va / na + vb / nb) AS se
           FROM a CROSS JOIN b)
         SELECT na, nb, round(diff, 6) AS diff, round(se, 6) AS se,
           round((diff + 2.0) / nullif(se, 0), 4) AS t_lower,
           round((2.0 - diff) / nullif(se, 0), 4) AS t_upper,
           (diff + 2.0) / nullif(se, 0) > 1.6449 AND
           (2.0 - diff) / nullif(se, 0) > 1.6449 AS equivalent
         FROM d""",
    "ts_coint" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         fit AS (SELECT round(regr_slope(y, x), 6) AS beta,
             round(regr_intercept(y, x), 6) AS alpha
           FROM hourly),
         resid AS (SELECT hr, y - alpha - beta * x AS r, beta, alpha
           FROM hourly CROSS JOIN fit),
         lagd AS (SELECT lag(r) OVER (ORDER BY hr) AS a,
             r - lag(r) OVER (ORDER BY hr) AS b, beta, alpha
           FROM resid),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(a * b) AS s1, sum(a * a) AS s2, sum(b * b) AS sbb,
             max(beta) AS beta, max(alpha) AS alpha
           FROM lagd WHERE a IS NOT NULL)
         SELECT n, beta, alpha,
           round(s1 / s2, 6) AS rho,
           round((s1 / s2) / sqrt(((sbb - s1 * s1 / s2) / (n - 1.0)) /
             s2), 4) AS df_stat
         FROM s""",
    "ts_perm_entropy" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         t AS (SELECT v,
             lead(v, 1) OVER (ORDER BY hr) AS v1,
             lead(v, 2) OVER (ORDER BY hr) AS v2
           FROM hourly),
         f AS (SELECT
             (CASE WHEN v <= v1 THEN 1 ELSE 0 END) * 4 +
             (CASE WHEN v <= v2 THEN 1 ELSE 0 END) * 2 +
             (CASE WHEN v1 <= v2 THEN 1 ELSE 0 END) AS code
           FROM t WHERE v1 IS NOT NULL AND v2 IS NOT NULL),
         pat AS (SELECT code, CAST(count(*) AS BIGINT) AS n
           FROM f GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k FROM pat)
         SELECT nt AS n_triples, k AS n_patterns,
           round(-sum((n / CAST(nt AS DOUBLE)) *
             ln(n / CAST(nt AS DOUBLE))) / ln(6.0), 6) AS perm_entropy
         FROM pat CROSS JOIN tot GROUP BY nt, k""",
    "tx_entropy" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS tk
           FROM documents),
         cnt AS (SELECT doc_id, tk, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS nd
           FROM cnt GROUP BY 1)
         SELECT cnt.doc_id, max(nd) AS n_distinct_tokens,
           round(sum(CAST(round(
             -(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))
               * 1e9) AS BIGINT)) / 1e9, 6) AS token_entropy
         FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
         GROUP BY 1""",
    "tx_kneser_ney" ->
      """WITH docs AS MATERIALIZED (SELECT source,
             substr(md5('kn' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
               AS is_train,
             string_split(text, ' ') AS t
           FROM documents),
         base AS MATERIALIZED (SELECT source, is_train, w1, w2,
             CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT source, is_train,
                   unnest(t[1:len(t)-1]) AS w1,
                   unnest(t[2:len(t)]) AS w2
                 FROM docs WHERE len(t) >= 2)
           GROUP BY 1, 2, 3, 4),
         cb AS MATERIALIZED (SELECT w1, w2,
             CAST(sum(tf) AS BIGINT) AS c2
           FROM base WHERE is_train GROUP BY 1, 2),
         cv AS MATERIALIZED (SELECT w1, CAST(sum(c2) AS BIGINT) AS cv,
             CAST(count(*) AS BIGINT) AS nv
           FROM cb GROUP BY 1),
         nwt AS MATERIALIZED (SELECT w2, CAST(count(*) AS BIGINT) AS nw
           FROM cb GROUP BY 1),
         nbt AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cb),
         test AS (SELECT source, w1, w2, CAST(sum(tf) AS BIGINT) AS cnt
           FROM base WHERE NOT is_train GROUP BY 1, 2, 3),
         sc AS (SELECT test.source, test.cnt,
             nwt.w2 IS NOT NULL AS known,
             CASE WHEN nwt.w2 IS NULL THEN CAST(0 AS BIGINT)
               ELSE CAST(round(-ln(
                 CASE WHEN cv.w1 IS NULL THEN nw / nb
                   ELSE greatest(coalesce(cb.c2, 0) - 0.75, 0.0) / cv
                     + 0.75 * nv / cv * (nw / nb) END) * 1e6)
                 AS BIGINT) END AS t
           FROM test
           LEFT JOIN nwt ON test.w2 = nwt.w2
           LEFT JOIN cv ON test.w1 = cv.w1
           LEFT JOIN cb ON test.w1 = cb.w1 AND test.w2 = cb.w2
           CROSS JOIN nbt)
         SELECT source,
           CAST(sum(CASE WHEN known THEN cnt ELSE 0 END) AS BIGINT)
             AS n_bigrams,
           CAST(sum(CASE WHEN NOT known THEN cnt ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(cnt * t) / 1e6 /
             sum(CASE WHEN known THEN cnt ELSE 0 END), 6) AS ce
         FROM sc GROUP BY 1""",
    "w27_interval_merge" ->
      """WITH iv AS (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) + 1800 AS BIGINT) AS e
           FROM events),
         m AS (SELECT user_id, event_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (PARTITION BY user_id
                 ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 -9223372036854775807) THEN 1 ELSE 0 END AS nb
           FROM iv),
         b AS (SELECT user_id, s, e,
             CAST(sum(nb) OVER (PARTITION BY user_id
               ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS block
           FROM m),
         blk AS (SELECT user_id, block, min(s) AS bs, max(e) AS be
           FROM b GROUP BY 1, 2)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(be - bs) AS BIGINT) AS covered_seconds
         FROM blk GROUP BY 1""",
    // w25: the absorbing-chain power iteration replays as ONE keyed
    // recursive CTE — each scenario (base + 4 removals) carries its
    // (mass-vector, conv) row through the same 200 canonical-order
    // steps the Scala driver loop runs, so the doubles match bit-for-
    // bit (ts_ses_grid's recursive-oracle discipline, keyed by rm).
    // Channel set {click,error,signup,view} is the testdata contract.
    "w25_markov_attribution" ->
      """WITH RECURSIVE fc AS (SELECT user_id, min(epoch_us(ts)) AS cts
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         pre AS (SELECT e.user_id, e.event_type, epoch_us(e.ts) AS tus,
             e.event_id, fc.cts IS NOT NULL AS converted
           FROM events e LEFT JOIN fc ON e.user_id = fc.user_id
           WHERE e.event_type <> 'purchase'
             AND (fc.cts IS NULL OR epoch_us(e.ts) < fc.cts)),
         st AS (SELECT event_type, converted,
             lead(event_type) OVER w AS to_type,
             row_number() OVER w AS rn
           FROM pre
           WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         tr AS (SELECT from_state, to_state, CAST(sum(n) AS BIGINT) AS n
           FROM (
             SELECT event_type AS from_state,
               COALESCE(to_type, CASE WHEN converted THEN '__CONV__'
                 ELSE '__NULL__' END) AS to_state, count(*) AS n
             FROM st GROUP BY 1, 2
             UNION ALL
             SELECT '__START__', event_type, count(*) FROM st
             WHERE rn = 1 GROUP BY 1, 2) GROUP BY 1, 2),
         sc AS (SELECT unnest(['__BASE__','click','error','signup',
             'view']) AS rm),
         eff AS (SELECT sc.rm,
             CASE WHEN t2.from_state = sc.rm THEN '__NULL__'
               ELSE t2.from_state END AS f,
             CASE WHEN t2.to_state = sc.rm THEN '__NULL__'
               ELSE t2.to_state END AS t,
             t2.n
           FROM sc CROSS JOIN tr t2),
         p AS (SELECT rm, f, t,
             CAST(sum(n) AS DOUBLE) /
               CAST(sum(sum(n)) OVER (PARTITION BY rm, f) AS DOUBLE)
               AS p
           FROM eff WHERE f <> '__NULL__' GROUP BY rm, f, t),
         qm AS (SELECT rm,
             COALESCE(max(CASE WHEN f='__START__' AND t='click' THEN p END),0.0) AS s_c,
             COALESCE(max(CASE WHEN f='__START__' AND t='error' THEN p END),0.0) AS s_e,
             COALESCE(max(CASE WHEN f='__START__' AND t='signup' THEN p END),0.0) AS s_g,
             COALESCE(max(CASE WHEN f='__START__' AND t='view' THEN p END),0.0) AS s_v,
             COALESCE(max(CASE WHEN f='__START__' AND t='__CONV__' THEN p END),0.0) AS s_k,
             COALESCE(max(CASE WHEN f='click' AND t='click' THEN p END),0.0) AS c_c,
             COALESCE(max(CASE WHEN f='click' AND t='error' THEN p END),0.0) AS c_e,
             COALESCE(max(CASE WHEN f='click' AND t='signup' THEN p END),0.0) AS c_g,
             COALESCE(max(CASE WHEN f='click' AND t='view' THEN p END),0.0) AS c_v,
             COALESCE(max(CASE WHEN f='click' AND t='__CONV__' THEN p END),0.0) AS c_k,
             COALESCE(max(CASE WHEN f='error' AND t='click' THEN p END),0.0) AS e_c,
             COALESCE(max(CASE WHEN f='error' AND t='error' THEN p END),0.0) AS e_e,
             COALESCE(max(CASE WHEN f='error' AND t='signup' THEN p END),0.0) AS e_g,
             COALESCE(max(CASE WHEN f='error' AND t='view' THEN p END),0.0) AS e_v,
             COALESCE(max(CASE WHEN f='error' AND t='__CONV__' THEN p END),0.0) AS e_k,
             COALESCE(max(CASE WHEN f='signup' AND t='click' THEN p END),0.0) AS g_c,
             COALESCE(max(CASE WHEN f='signup' AND t='error' THEN p END),0.0) AS g_e,
             COALESCE(max(CASE WHEN f='signup' AND t='signup' THEN p END),0.0) AS g_g,
             COALESCE(max(CASE WHEN f='signup' AND t='view' THEN p END),0.0) AS g_v,
             COALESCE(max(CASE WHEN f='signup' AND t='__CONV__' THEN p END),0.0) AS g_k,
             COALESCE(max(CASE WHEN f='view' AND t='click' THEN p END),0.0) AS v_c,
             COALESCE(max(CASE WHEN f='view' AND t='error' THEN p END),0.0) AS v_e,
             COALESCE(max(CASE WHEN f='view' AND t='signup' THEN p END),0.0) AS v_g,
             COALESCE(max(CASE WHEN f='view' AND t='view' THEN p END),0.0) AS v_v,
             COALESCE(max(CASE WHEN f='view' AND t='__CONV__' THEN p END),0.0) AS v_k
           FROM p GROUP BY rm),
         it AS (
           SELECT rm, 1 AS i, s_c AS mc, s_e AS me, s_g AS mg,
             s_v AS mv, s_k AS cv FROM qm
           UNION ALL
           SELECT it.rm, it.i + 1,
             it.mc*q.c_c + it.me*q.e_c + it.mg*q.g_c + it.mv*q.v_c,
             it.mc*q.c_e + it.me*q.e_e + it.mg*q.g_e + it.mv*q.v_e,
             it.mc*q.c_g + it.me*q.e_g + it.mg*q.g_g + it.mv*q.v_g,
             it.mc*q.c_v + it.me*q.e_v + it.mg*q.g_v + it.mv*q.v_v,
             it.cv +
               (it.mc*q.c_k + it.me*q.e_k + it.mg*q.g_k + it.mv*q.v_k)
           FROM it JOIN qm q ON q.rm = it.rm WHERE it.i < 200),
         fin AS (SELECT rm, cv FROM it WHERE i = 200),
         b AS (SELECT cv AS bs FROM fin WHERE rm = '__BASE__'),
         ef AS (SELECT rm AS channel,
             CASE WHEN bs = 0 THEN 0.0
               ELSE greatest(0.0, 1.0 - cv / bs) END AS e
           FROM fin, b WHERE rm <> '__BASE__'),
         te AS (SELECT
             max(CASE WHEN channel='click' THEN e END)
             + max(CASE WHEN channel='error' THEN e END)
             + max(CASE WHEN channel='signup' THEN e END)
             + max(CASE WHEN channel='view' THEN e END) AS t FROM ef)
         SELECT channel, round(e, 6) AS removal_effect,
           CASE WHEN t = 0 THEN 0.0 ELSE round(e / t, 6) END
             AS attribution
         FROM ef, te""",
    "w26_ltv" ->
      """WITH p AS (SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         firsts AS (SELECT user_id, min(wk) AS cohort
           FROM p GROUP BY 1),
         sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort
           FROM firsts GROUP BY 1),
         cells AS (SELECT cohort,
             CAST((wk - cohort) / 7 AS INT) AS weeks_since,
             CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_active,
             CAST(sum(cents) AS BIGINT) AS cents
           FROM p JOIN firsts ON p.user_id = firsts.user_id
           GROUP BY 1, 2)
         SELECT cells.cohort, weeks_since, n_cohort, n_active,
           round(cents / 100.0, 2) AS revenue,
           round(sum(cents) OVER (PARTITION BY cells.cohort
             ORDER BY weeks_since ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) / (n_cohort * 100.0), 4)
             AS cum_ltv_per_user
         FROM cells JOIN sizes ON cells.cohort = sizes.cohort""",
    "w24_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         grid AS (SELECT DISTINCT day AS gday FROM ud),
         mau AS (SELECT gday, CAST(count(DISTINCT user_id) AS BIGINT)
               AS mau
           FROM ud JOIN grid
             ON day <= gday AND day > gday - INTERVAL 30 DAY
           GROUP BY 1),
         dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
               AS dau
           FROM ud GROUP BY 1)
         SELECT day, dau, mau,
           round(dau / CAST(mau AS DOUBLE), 4) AS stickiness
         FROM dau JOIN mau ON day = gday""",
    "ts_ljungbox" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         l AS (SELECT unnest(range(1, 13)) AS lag),
         ac AS (SELECT lag, round(corr(a.v, b.v), 6) AS r
           FROM l CROSS JOIN hourly a JOIN hourly b ON b.hr = a.hr + lag
           GROUP BY lag),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hourly),
         s AS (SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS maxlag,
             sum(r * r / (n - lag)) AS s
           FROM ac CROSS JOIN n WHERE r IS NOT NULL)
         SELECT n, maxlag,
           round(CAST(n AS DOUBLE) * (n + 2.0) * s, 4) AS q_stat
         FROM s""",
    "st_cliff" ->
      """WITH pts AS (SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY value),
         c AS (SELECT ca, cb, ca + cb AS t,
             CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
           FROM pts),
         s AS (SELECT
             CAST(sum(ca * (2*below + t + 1)) AS BIGINT) AS r1x2,
             CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS na,
             CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS nb
           FROM c)
         SELECT round(2.0 * ((r1x2 - na*(na+1)) / 2.0) /
             nullif(CAST(na * nb AS DOUBLE), 0) - 1.0, 6) AS cliffs_delta,
           na AS n_a, nb AS n_b
         FROM s""",
    "ts_backtest" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click' GROUP BY 1),
         seq AS (SELECT hr, v,
             row_number() OVER (ORDER BY hr) AS rn,
             lag(v, 24) OVER (ORDER BY hr) AS lag_s
           FROM hourly),
         cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM seq),
         wn AS (SELECT seq.*, n_total,
             CAST(ceil(0.8 * n_total) AS BIGINT) AS ptrain
           FROM seq CROSS JOIN cnt),
         tr AS (SELECT min_by(v, rn) AS v_first, max_by(v, rn) AS v_last,
             CAST(max(rn) AS BIGINT) AS p
           FROM wn WHERE rn <= ptrain),
         hold AS (SELECT v, lag_s,
             CAST(rn - ptrain AS DOUBLE) AS h, v_first, v_last, p
           FROM wn CROSS JOIN tr WHERE rn > ptrain),
         preds AS (
           SELECT v, 'naive' AS method, v_last AS pred FROM hold
           UNION ALL
           SELECT v, 'drift',
             v_last + h * (v_last - v_first) / (p - 1.0) FROM hold
           UNION ALL
           SELECT v, 'snaive', coalesce(lag_s, v_last) FROM hold),
         pr2 AS (SELECT method, v, pred,
             CAST(floor(abs(pred - v) * 1e9 + 0.5) AS BIGINT) AS t,
             CAST(floor(2.0 * abs(pred - v)
               / nullif(abs(pred) + abs(v), 0) * 1e9 + 0.5) AS BIGINT)
               AS ts
           FROM preds)
         SELECT method, CAST(count(*) AS BIGINT) AS n,
           CAST((2 * sum(t) + count(*) * 1000)
             // (2 * count(*) * 1000) AS DOUBLE) / 1e6 AS mae,
           CAST((2 * sum(ts) + count(ts) * 1000)
             // (2 * nullif(count(ts), 0) * 1000) AS DOUBLE) / 1e6
             AS smape
         FROM pr2 GROUP BY 1""",
    "st_friedman" ->
      """WITH b AS (SELECT user_id,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x1,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS x2,
             round(avg(CASE WHEN event_type = 'purchase' THEN value END),
               6) AS x3
           FROM events
           WHERE event_type IN ('click', 'view', 'purchase')
           GROUP BY 1
           HAVING x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL),
         r AS (SELECT
             1.0 + (CASE WHEN x2 < x1 THEN 1 ELSE 0 END)
                 + (CASE WHEN x3 < x1 THEN 1 ELSE 0 END)
                 + ((CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 = x1 THEN 1 ELSE 0 END)) / 2.0 AS r1,
             1.0 + (CASE WHEN x1 < x2 THEN 1 ELSE 0 END)
                 + (CASE WHEN x3 < x2 THEN 1 ELSE 0 END)
                 + ((CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 = x2 THEN 1 ELSE 0 END)) / 2.0 AS r2,
             1.0 + (CASE WHEN x1 < x3 THEN 1 ELSE 0 END)
                 + (CASE WHEN x2 < x3 THEN 1 ELSE 0 END)
                 + ((CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
                  + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END)) / 2.0 AS r3,
             (CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
               + (CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
               + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END) AS s
           FROM b),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(r1) AS s1, sum(r2) AS s2, sum(r3) AS s3,
             CAST(sum(CASE WHEN s = 3 THEN 24 WHEN s = 1 THEN 6
               ELSE 0 END) AS BIGINT) AS ties
           FROM r),
         f AS (SELECT n, s1, s2, s3, ties, CAST(n AS DOUBLE) AS nd
           FROM a)
         SELECT n, CAST(3 AS BIGINT) AS k,
           round(12.0 / nullif(nd * 3.0 * 4.0, 0) *
             (s1 * s1 + s2 * s2 + s3 * s3) - 3.0 * nd * 4.0, 4) AS chi2,
           round((12.0 / nullif(nd * 3.0 * 4.0, 0) *
             (s1 * s1 + s2 * s2 + s3 * s3) - 3.0 * nd * 4.0) /
             nullif(1.0 - CAST(ties AS DOUBLE) /
               nullif(nd * 3.0 * 8.0, 0), 0), 4) AS chi2_adj,
           ties
         FROM f""",
    "ml_nb" -> MlNbOracleSql,
    "tx_jsd" ->
      """WITH cnt AS (SELECT tok,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                 FROM documents WHERE source IN ('src0', 'src1'))
           GROUP BY 1),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM cnt),
         term AS (SELECT ca, cb, na, nb,
             CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p,
             CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q
           FROM cnt, tot)
         SELECT round((sum(CASE WHEN ca > 0
               THEN p * ln(p / ((p + q) / 2.0)) ELSE 0 END)
             + sum(CASE WHEN cb > 0
               THEN q * ln(q / ((p + q) / 2.0)) ELSE 0 END)) / 2.0, 6)
             AS jsd_nats,
           count(*) AS vocab, max(na) AS n_a, max(nb) AS n_b
         FROM term""",
    "tx_tfidf" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT doc_id, term, tf, df,
             round(tf * (ln((n + 1) / (df + 1)) + 1), 6) AS tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY round(tf * (ln((n + 1) / (df + 1)) + 1), 6) DESC,
                 term) AS rn
           FROM tf JOIN df USING (term) CROSS JOIN n)
         SELECT doc_id, term, tf, df, tfidf FROM s WHERE rn <= 3""",
    "tx_pii" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(text,
             '\+?[0-9][0-9 ()-]{7,}[0-9]')) AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all(text,
             '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INTEGER) AS n_ipv4,
           CAST(length(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[REDACTED]', 'g'),
                 '\+?[0-9][0-9 ()-]{7,}[0-9]', '[REDACTED]', 'g'),
               '([0-9]{1,3}\.){3}[0-9]{1,3}', '[REDACTED]', 'g')) AS INTEGER)
             AS redacted_len
         FROM documents""",
    "tx_contamination" ->
      """WITH bench AS (
           SELECT DISTINCT s AS shingle FROM (
             SELECT unnest(list_transform(range(1, len(t)-3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
             FROM (SELECT string_split(text, ' ') AS t FROM documents
                   WHERE source = 'src0') WHERE len(t) >= 5)),
         docsh AS (
           SELECT DISTINCT doc_id, s AS shingle FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(t)-3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                   WHERE source <> 'src0') WHERE len(t) >= 5))
         SELECT doc_id, count(*) AS shared_shingles
         FROM docsh JOIN bench USING (shingle)
         GROUP BY doc_id HAVING count(*) >= 10""",
    "pipe_decontaminate" ->
      """WITH bench AS (
           SELECT DISTINCT s AS shingle FROM (
             SELECT unnest(list_transform(range(1, len(t)-3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
             FROM (SELECT string_split(text, ' ') AS t FROM documents
                   WHERE source = 'src0') WHERE len(t) >= 5)),
         docsh AS (
           SELECT DISTINCT doc_id, s AS shingle FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(t)-3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                   WHERE source <> 'src0') WHERE len(t) >= 5)),
         flagged AS (
           SELECT doc_id FROM docsh JOIN bench USING (shingle)
           GROUP BY doc_id HAVING count(*) >= 10)
         SELECT doc_id, n_chars FROM documents
         WHERE source <> 'src0'
           AND doc_id NOT IN (SELECT doc_id FROM flagged)""",
    "dd_embed_neardup" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4) >= 0.3""",
    "ann_range" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT b.vec_id,
           round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 4) AS cos
         FROM embeddings b, q WHERE b.vec_id <> 0
           AND round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                            CAST(q.qe AS DOUBLE[])), 4)
               >= 0.2""",
    "w18_conversion_latency" ->
      """WITH per AS (SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t1
           FROM events GROUP BY 1),
         lat AS (SELECT CASE WHEN t1 IS NOT NULL AND t1 >= t0 THEN
               CAST(floor(epoch(t1)) AS BIGINT)
                 - CAST(floor(epoch(t0)) AS BIGINT) END AS lat_s
           FROM per WHERE t0 IS NOT NULL)
         SELECT count(*) AS n_started, count(lat_s) AS n_converted,
           round(quantile_cont(lat_s, 0.5), 4) AS median_latency_s,
           round(quantile_cont(lat_s, 0.9), 4) AS p90_latency_s
         FROM lat""",
    "w19_attribution" ->
      """WITH f AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         fu AS (SELECT user_id, event_type AS channel FROM f WHERE rn = 1),
         p AS (SELECT user_id,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT channel, count(*) AS n_users,
           count(p.user_id) AS n_converted,
           round(coalesce(sum(cents), 0) / 100.0, 2) AS purchase_value
         FROM fu LEFT JOIN p USING (user_id)
         GROUP BY 1""",
    "w17_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         r AS (SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
           FROM days),
         s AS (SELECT user_id, day - CAST(rn AS INTEGER) AS anchor,
             count(*) AS streak_days, min(day) AS start_day
           FROM r GROUP BY 1, 2)
         SELECT user_id, streak_days, start_day FROM s
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY streak_days DESC, start_day) = 1""",
    "dq_schema_drift" ->
      """SELECT * FROM (VALUES
           ('event_id', 'bigint', 'bigint', 'unchanged'),
           ('event_type', 'string', 'string', 'unchanged'),
           ('props', 'string', NULL, 'removed'),
           ('session_id', NULL, 'bigint', 'added'),
           ('ts', 'timestamp', 'timestamp', 'unchanged'),
           ('user_id', 'bigint', 'bigint', 'unchanged'),
           ('value', 'double', 'string', 'type_changed')
         ) t(col_name, old_type, new_type, status)""",
    "ann_bruteforce" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT b.vec_id,
           round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 4) AS cos
         FROM embeddings b, q WHERE b.vec_id <> 0
         ORDER BY cos DESC, b.vec_id LIMIT 10""",
    "ann_mips" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT b.vec_id,
           round(list_inner_product(CAST(b.embedding AS DOUBLE[]),
                                    CAST(q.qe AS DOUBLE[])), 4) AS ip
         FROM embeddings b, q WHERE b.vec_id <> 0
         ORDER BY ip DESC, b.vec_id LIMIT 10""",
    "dwh_scd3" ->
      """WITH v AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_type, ts, event_id FROM v
               WHERE prev IS NULL OR event_type <> prev),
         h AS (SELECT user_id, event_type, ts,
             lag(event_type) OVER w AS prev_state,
             lead(ts) OVER w AS next_from
           FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_type AS current_state, prev_state,
           epoch_us(ts) AS changed_at_us
         FROM h WHERE next_from IS NULL""",
    "tx_bm25" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
           FROM documents),
         stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('vector', 'hash', 'merge') GROUP BY 1, 2),
         dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id,
             ln((n - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * d.dl / avgdl)) AS w
           FROM tf JOIN dfx USING (term) JOIN d USING (doc_id)
             CROSS JOIN stats)
         SELECT doc_id, round(sum(w), 6) AS bm25 FROM s
         GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""",
    "ann_hybrid" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         vr AS (SELECT vec_id AS vid, row_number() OVER (ORDER BY
             round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                          CAST(q.qe AS DOUBLE[])), 4) DESC,
             vec_id) AS rv
           FROM embeddings b, q WHERE b.vec_id <> 0
           QUALIFY rv <= 100),
         d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
           FROM documents),
         stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('vector', 'hash', 'merge') GROUP BY 1, 2),
         dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id,
             ln((n - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * d.dl / avgdl)) AS w
           FROM tf JOIN dfx USING (term) JOIN d USING (doc_id)
             CROSS JOIN stats),
         bm AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM s GROUP BY 1
           ORDER BY bm25 DESC, doc_id LIMIT 100),
         br AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC,
             doc_id) AS rb FROM bm)
         SELECT coalesce(vr.vid, br.doc_id) AS id,
           round(coalesce(1.0 / (60 + rv), 0)
             + coalesce(1.0 / (60 + rb), 0), 6) AS rrf
         FROM vr FULL OUTER JOIN br ON vr.vid = br.doc_id
         ORDER BY rrf DESC, id LIMIT 10""",
    "ann_filtered" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT b.vec_id,
           round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 4) AS cos
         FROM embeddings b, q WHERE b.vec_id <> 0 AND b.label = 3
         ORDER BY cos DESC, b.vec_id LIMIT 10""",
    // ann_lsh, ann_ivf, ann_knn_join, ann_pq, ann_sq8, dd_semantic,
    // mm_frames, st_hll_merge: float hyperplane/codebook/sketch
    // internals are engine-specific → rows-only check + property specs
    // (recall/error bounds vs the exact oracle-checked operators).
    // (mm_phash / mm_scenecut / dd_cdc_chunks / st_cms flipped to
    // hash-checked in r12; the whole MinHash/SimHash text family —
    // dd_minhash_lsh, dd_simhash, dd_cluster_lsh, dd_lsh_eval,
    // dd_incremental_lsh, tx_source_jaccard, pipe_pairs — flipped in
    // r13 via the CW re-key; see graft.OracleSql.)
    "mm_phash" -> OracleSql.mmPhash,
    // r13 flips: the CW-re-keyed MinHash/SimHash family replays end to
    // end — signatures, band keys, bucket caps, est thresholds — as
    // DuckDB CTEs rendered from the SAME coefficient arrays the engine
    // uses (graft.plans.CwMinHash → graft.OracleSql).
    "dd_minhash_lsh" -> OracleSql.ddMinhashLsh,
    // r13 second wave: the hyperplane-LSH embedding family — the
    // engine's plane dots are strict left-to-right double folds, which
    // DuckDB replays BIT-EXACTLY (list_reduce), so sign-bit buckets and
    // candidate sets replay with no rounding convention at the boundary
    "ann_lsh" -> OracleSql.annLsh,
    "ann_lsh_multiprobe" -> OracleSql.annLshMultiprobe,
    "dd_embed_neardup_lsh" -> OracleSql.ddEmbedNeardupLsh,
    "pipe_decon_embed_lsh" -> OracleSql.pipeDeconEmbedLsh,
    "dd_simhash" -> OracleSql.ddSimhash,
    "dd_cluster_lsh" -> OracleSql.ddClusterLsh,
    "dd_lsh_eval" -> OracleSql.ddLshEval,
    "dd_incremental_lsh" -> OracleSql.ddIncrementalLsh,
    "tx_source_jaccard" -> OracleSql.txSourceJaccard,
    "pipe_pairs" -> OracleSql.pipePairs,
    // mm_scenecut (r12 flip): frame sampling, per-frame two-poly
    // SimHash, hamming lag and the cut rollup all replay as CTEs.
    "mm_scenecut" ->
      """WITH media AS (SELECT doc_id AS media_id, text,
           CAST(length(text) AS BIGINT) AS n_bytes
         FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
       fx AS (SELECT media_id, text,
           CAST(ceil(n_bytes / 256.0) AS BIGINT) AS n,
           least(8, CAST(ceil(n_bytes / 256.0) AS BIGINT)) AS take
         FROM media),
       fr AS (SELECT media_id,
           (i * n) // take AS frame_idx,
           substring(text, CAST((i * n) // take * 256 + 1 AS INT), 256)
             AS frame
         FROM (SELECT media_id, text, n, take,
               unnest(range(0, take)) AS i
             FROM fx) fi),
       ft AS (SELECT media_id, frame_idx,
           string_split(regexp_replace(to_base64(encode(frame)),
             '(.{4})', '\1 ', 'g'), ' ') AS t
         FROM fr),
       hx AS (SELECT media_id, frame_idx,
           list_distinct(list_transform(range(1, len(t) - 1), i ->
             (list_reduce(list_prepend(7::BIGINT,
                list_transform(string_split(array_to_string(t[i:i+2], ' '),
                    ''),
                  ch -> CAST(ascii(ch) AS BIGINT))),
                (acc, c) -> (acc * 31 + c) % 1000000007) << 30)
             | list_reduce(list_prepend(7::BIGINT,
                list_transform(string_split(array_to_string(t[i:i+2], ' '),
                    ''),
                  ch -> CAST(ascii(ch) AS BIGINT))),
                (acc, c) -> (acc * 131 + c) % 998244353))) AS hs
         FROM ft),
       sk AS (SELECT media_id, frame_idx,
           CAST(list_sum(list_transform(range(0, 60), b ->
             CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1))
                    > len(hs)
               THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS sim
         FROM hx),
       lg AS (SELECT media_id, sim,
           lag(sim) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
         FROM sk),
       tr AS (SELECT media_id,
           CAST(bit_count(xor(sim, prev)) AS BIGINT) AS hamming
         FROM lg WHERE prev IS NOT NULL)
       SELECT media_id, CAST(count(*) AS BIGINT) AS n_transitions,
         CAST(sum(CASE WHEN hamming >= 12 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cuts,
         round(avg(hamming), 4) AS avg_hamming, max(hamming)
           AS peak_hamming
       FROM tr GROUP BY 1""",
    "dd_incremental" ->
      """WITH newd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         oldd AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
         nf AS (SELECT doc_id, n_chars, text,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp,
             row_number() OVER (
               PARTITION BY md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
               ORDER BY doc_id) AS rn
           FROM newd),
         ofp AS (SELECT DISTINCT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
                 FROM oldd),
         cand AS (SELECT doc_id, n_chars, text FROM nf
                  WHERE rn = 1 AND fp NOT IN (SELECT fp FROM ofp)),
         tn AS (SELECT doc_id, string_split(text, ' ') AS t FROM cand),
         tdo AS (SELECT doc_id, string_split(text, ' ') AS t FROM oldd),
         shn AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM tn WHERE len(t) >= 3)),
         sho AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM tdo WHERE len(t) >= 3)),
         szn AS (SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY doc_id),
         szo AS (SELECT doc_id, count(*) AS n_sh FROM sho GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM shn a JOIN sho b ON a.s = b.s GROUP BY 1, 2),
         m AS (SELECT DISTINCT d1 AS doc_id
               FROM p JOIN szn x ON d1 = x.doc_id JOIN szo y ON d2 = y.doc_id
               WHERE round(shared / (x.n_sh + y.n_sh - shared), 6) >= 0.2)
         SELECT doc_id, n_chars FROM cand
         WHERE doc_id NOT IN (SELECT doc_id FROM m)""",
    "sc_salted_join" ->
      """SELECT c_nationkey, count(*) AS n, round(sum(o_totalprice),2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey""",
    "src_parquet_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 49""",
    "src_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "src_manifest_skip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
         GROUP BY 1""",
    "src_orc_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    "src_text_roundtrip" ->
      "SELECT doc_id, text FROM documents",
    "snk_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity),2) AS qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderstatus""",
    "snk_compaction" ->
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
    "snk_zorder" ->
      "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
    "src_json_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "src_schema_evolution" ->
      """SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE) AS s_acctbal
         FROM supplier WHERE s_suppkey % 2 = 0
         UNION ALL
         SELECT s_suppkey, s_name, s_acctbal
         FROM supplier WHERE s_suppkey % 2 = 1""",
    "snk_partitioned_write" ->
      """SELECT CAST(month(o_orderdate) AS INTEGER) AS o_month, count(*) AS n,
           round(sum(o_totalprice),2) AS total
         FROM orders WHERE year(o_orderdate) = 1997
         GROUP BY month(o_orderdate)""",
    "q31_mom_growth" ->
      """WITH m AS (SELECT o_orderpriority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1, 2),
         l AS (SELECT o_orderpriority, month, cents,
             lag(cents) OVER (PARTITION BY o_orderpriority
               ORDER BY month) AS prev
           FROM m)
         SELECT o_orderpriority, month,
           round(cents / 100.0, 2) AS revenue,
           round((cents - prev) / CAST(prev AS DOUBLE), 6) AS mom_growth
         FROM l""",
    "q30_nullsafe_join" ->
      """WITH facts AS (SELECT event_id,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS k
           FROM events),
         dim AS (SELECT dk, coalesce(dk, '__uncategorized__') AS label
           FROM (SELECT DISTINCT event_type AS dk FROM events
             UNION ALL SELECT NULL))
         SELECT label, count(*) AS n
         FROM facts JOIN dim ON facts.k IS NOT DISTINCT FROM dim.dk
         GROUP BY label""",
    "st_mad" ->
      """WITH med AS (SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS med
           FROM lineitem GROUP BY 1),
         d AS (SELECT l.l_returnflag, m.med,
             abs(l.l_extendedprice - m.med) AS adev
           FROM lineitem l JOIN med m USING (l_returnflag))
         SELECT l_returnflag, round(min(med), 4) AS median,
           round(quantile_cont(adev, 0.5), 4) AS mad,
           round(quantile_cont(adev, 0.5) * 1.4826, 4) AS mad_sigma
         FROM d GROUP BY 1""",
    "st_iqr" ->
      """WITH f AS (SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
             round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
           FROM lineitem GROUP BY 1),
         g AS (SELECT l_returnflag, q1, q3,
             round(q1 - 1.5 * (q3 - q1), 4) AS lo,
             round(q3 + 1.5 * (q3 - q1), 4) AS hi
           FROM f)
         SELECT l.l_returnflag, count(*) AS n, max(q1) AS q1, max(q3) AS q3,
           CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
             AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_high
         FROM lineitem l JOIN g ON l.l_returnflag = g.l_returnflag
         GROUP BY 1""",
    "tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0 AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1996-03-15'
           AND l_shipdate > TIMESTAMP '1996-03-15'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "tpch_q5" ->
      """SELECT n_name,
           CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0 AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",
    "tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0 AS revenue
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "tpch_q7" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0 AS revenue
         FROM lineitem, orders, customer, supplier,
           nation ns, nation nc
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey
           AND s_nationkey = ns.n_nationkey
           AND c_nationkey = nc.n_nationkey
           AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
             OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3""",
    "tpch_q8" ->
      """SELECT year(o_orderdate) AS o_year,
           round(CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
               THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE), 6) AS mkt_share
         FROM lineitem, orders, customer, supplier, part,
           nation n1, nation n2, region
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey AND l_partkey = p_partkey
           AND c_nationkey = n1.n_nationkey
           AND n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
           AND s_nationkey = n2.n_nationkey
           AND p_type = 'STANDARD'
         GROUP BY 1""",
    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
           GROUP BY c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0
             AS sum_disc_price,
           CAST((2 * sum((CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))
             + 10000) // 20000 AS DOUBLE) / 100.0
             AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         GROUP BY 1, 2""",
    "tpch_q2" ->
      """WITH rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'EUROPE'),
         o AS (SELECT l_partkey, l_suppkey,
             CAST(min((200 * CAST(floor(l_extendedprice * 100 + 0.5)
                 AS BIGINT) + CAST(l_quantity AS BIGINT))
               // (2 * CAST(l_quantity AS BIGINT))) AS DOUBLE) / 10000.0
               AS unit_cost
           FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part
             WHERE p_type = 'SMALL' AND p_size <= 10)
           GROUP BY 1, 2),
         j AS (SELECT o.l_partkey, o.unit_cost, rs.s_name, rs.s_acctbal,
             rs.n_name
           FROM o JOIN rs ON o.l_suppkey = rs.s_suppkey)
         SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
           unit_cost
         FROM j WHERE unit_cost = (SELECT min(unit_cost) FROM j j2
           WHERE j2.l_partkey = j.l_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY 1""",
    "tpch_q6" ->
      """SELECT CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
             + 100) // 200 AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "tpch_q9" ->
      """SELECT n_name, year(o_orderdate) AS o_year,
           CAST((2 * sum((CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             - 80 * CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
             * CAST(l_quantity AS BIGINT))
             + 100) // 200 AS DOUBLE) / 100.0 AS profit
         FROM lineitem JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2""",
    "tpch_q11" ->
      """WITH pv AS (SELECT l_partkey AS p_partkey,
             round(sum(l_extendedprice * l_quantity), 2) AS value
           FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
             WHERE n_name = 'NATION_9')
           GROUP BY 1)
         SELECT p_partkey, value FROM pv
         WHERE value > (SELECT round(sum(value) * 0.0015, 2) FROM pv)""",
    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
           AND p_size <= 25
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             WHERE s_acctbal < 0.0)
         GROUP BY 1, 2, 3""",
    "tpch_q20" ->
      """WITH shipped AS (SELECT l_partkey, l_suppkey,
             sum(l_quantity) AS qty
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
             AND l_partkey IN (SELECT p_partkey FROM part
               WHERE p_name LIKE 'blue%')
           GROUP BY 1, 2),
         ov AS (SELECT l_suppkey FROM (SELECT l_suppkey, qty,
             avg(qty) OVER (PARTITION BY l_partkey) AS a FROM shipped)
           WHERE qty > 1.5 * a)
         SELECT s_name, s_acctbal FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_9'
           AND s_suppkey IN (SELECT l_suppkey FROM ov)""",
    "tpch_q17" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem, part
         WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
           AND l_quantity < (
             SELECT 0.2 * avg(l_quantity) FROM lineitem
             WHERE l_partkey = p_partkey)""",
    "tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey
               AND l3.l_returnflag = 'R')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name LIMIT 20""",
    "tpch_q22" ->
      """SELECT c_nationkey, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
         FROM customer c
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
             WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
             WHERE o.o_custkey = c.c_custkey
               AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1""",
    "tpch_q12" ->
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",
    "tpch_q15" ->
      """WITH r AS (SELECT l_suppkey,
             CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0
               AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM r JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM r)
         ORDER BY s_suppkey""",
    "tpch_q19" ->
      """SELECT CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             + 100) // 200 AS DOUBLE) / 100.0
             AS revenue,
           count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30)""",
    "tpch_q14" ->
      """SELECT round(100.0 *
           CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) ELSE 0 END) AS DOUBLE) /
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE), 6)
           AS promo_revenue_pct
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1996-09-01'
           AND l_shipdate < TIMESTAMP '1996-10-01'""",
    "tpch_q18" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
           FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300.0)
         SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           round(total_qty, 4) AS total_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "q28_exists" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
             WHERE o.o_custkey = c.c_custkey)
           AND NOT EXISTS (SELECT 1 FROM orders o
             WHERE o.o_custkey = c.c_custkey
               AND o.o_orderdate >= TIMESTAMP '1996-01-01'
               AND o.o_orderdate < TIMESTAMP '1997-01-01')""",
    "q29_lateral" ->
      """SELECT doc_id,
           CAST(generate_subscripts(l, 1) - 1 AS INTEGER) AS pos,
           unnest(l) AS token
         FROM (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents WHERE doc_id % 100 = 0)""",
    "w16_rolling_median" ->
      """SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN 20 PRECEDING AND CURRENT ROW), 6)
             AS roll_median
         FROM events""",
    "tx_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
         b AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
           FROM t WHERE len(l) >= 2),
         c2 AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS n
           FROM b GROUP BY 1, 2),
         lm AS (SELECT w1, sum(n) AS cl FROM c2 GROUP BY 1),
         rm AS (SELECT w2, sum(n) AS cr FROM c2 GROUP BY 1),
         tt AS (SELECT sum(n) AS nt FROM c2)
         SELECT w1, w2, n, round(ln(n * nt / (cl * cr)), 6) AS pmi
         FROM c2 JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tt
         WHERE n >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "tx_rake" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         tk AS (SELECT doc_id, unnest(list_transform(
             range(1, len(t)+1), i -> {'pos': i, 'tok': t[i]}),
             recursive := true) FROM toks),
         nst AS (SELECT doc_id, pos, tok AS word FROM tk
           WHERE tok <> '' AND tok NOT IN ('a', 'the')),
         runs AS (SELECT doc_id, pos, word, pos - row_number()
             OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM nst),
         member AS (SELECT doc_id, pos, word, grp, count(*)
             OVER (PARTITION BY doc_id, grp) AS plen
           FROM runs),
         ws AS (SELECT word, CAST(round(sum(plen) * 1e6 / count(*))
               AS BIGINT) AS ws6
           FROM member GROUP BY 1),
         phrases AS (SELECT doc_id, grp,
             string_agg(word, ' ' ORDER BY pos) AS phrase,
             CAST(sum(ws6) AS BIGINT) AS score6
           FROM member JOIN ws USING (word) GROUP BY 1, 2)
         SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           round(max(score6) / 1e6, 6) AS score
         FROM phrases GROUP BY 1
         ORDER BY max(score6) DESC, phrase LIMIT 15""",
    "tx_ppmi" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         tk AS (SELECT doc_id, unnest(list_transform(
             range(1, len(t)+1), i -> {'pos': i, 'tok': t[i]}),
             recursive := true) FROM toks),
         pr AS (SELECT a.tok AS t1, b.tok AS t2
           FROM tk a JOIN tk b ON a.doc_id = b.doc_id
             AND b.pos > a.pos AND b.pos <= a.pos + 3),
         cnt AS (SELECT a, b, count(*) AS n_ab FROM (
             SELECT t1 AS a, t2 AS b FROM pr
             UNION ALL SELECT t2, t1 FROM pr)
           GROUP BY 1, 2),
         na AS (SELECT a, sum(n_ab) AS n_a FROM cnt GROUP BY 1),
         nb AS (SELECT a AS b, n_a AS n_b FROM na),
         tt AS (SELECT sum(n_ab) AS t FROM cnt)
         SELECT a, b, n_ab, round(greatest(0.0, ln(
             (CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE)) /
             (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))), 6) AS ppmi
         FROM cnt JOIN na USING (a) JOIN nb USING (b) CROSS JOIN tt
         ORDER BY ppmi DESC, a, b LIMIT 30""",
    "w15_range_frame" ->
      """SELECT event_id, user_id,
           count(*) OVER w AS n_trailing,
           round(sum(value) OVER w, 4) AS sum_trailing
         FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
    "st_corr_matrix" ->
      """SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_xy
           FROM lineitem
         UNION ALL SELECT 'l_quantity', 'l_discount',
           round(corr(l_quantity, l_discount), 6) FROM lineitem
         UNION ALL SELECT 'l_quantity', 'l_tax',
           round(corr(l_quantity, l_tax), 6) FROM lineitem
         UNION ALL SELECT 'l_extendedprice', 'l_discount',
           round(corr(l_extendedprice, l_discount), 6) FROM lineitem
         UNION ALL SELECT 'l_extendedprice', 'l_tax',
           round(corr(l_extendedprice, l_tax), 6) FROM lineitem
         UNION ALL SELECT 'l_discount', 'l_tax',
           round(corr(l_discount, l_tax), 6) FROM lineitem""",
    "st_group_quantiles" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS q50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS q90
         FROM lineitem GROUP BY l_returnflag""",
    "st_qq" ->
      """WITH one AS (SELECT
             quantile_cont(CASE WHEN event_type = 'click' THEN value END,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qa,
             quantile_cont(CASE WHEN event_type = 'view' THEN value END,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qb
           FROM events),
         idx AS (SELECT unnest(generate_series(1, 9)) AS i)
         SELECT round(i/10.0, 1) AS p, round(qa[i], 4) AS q_a,
           round(qb[i], 4) AS q_b, round(qa[i] - qb[i], 4) AS diff
         FROM idx, one""",
    "st_ci" ->
      """WITH g AS (SELECT event_type, count(value) AS n,
             round(avg(value), 4) AS mean,
             round(stddev_samp(value), 4) AS std
           FROM events GROUP BY 1)
         SELECT event_type, n, mean, std,
           round(mean - 1.96 * std / sqrt(n), 4) AS ci_lo,
           round(mean + 1.96 * std / sqrt(n), 4) AS ci_hi
         FROM g""",
    "w14_rolling_distinct" ->
      """SELECT event_id, user_id,
           CAST(count(DISTINCT event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
             AS n_types_seen
         FROM events""",
    "q27_interval_join" ->
      """WITH e AS (SELECT event_id AS err_id, epoch_us(ts) AS s1,
             epoch_us(ts) + 600000000 AS e1
           FROM events WHERE user_id < 30 AND event_type = 'error'),
         p AS (SELECT event_id AS pur_id, epoch_us(ts) AS s2,
             epoch_us(ts) + 600000000 AS e2
           FROM events WHERE user_id < 30 AND event_type = 'purchase')
         SELECT err_id, pur_id,
           least(e1, e2) - greatest(s1, s2) AS overlap_us
         FROM e JOIN p ON s1 <= e2 AND s2 <= e1""",
    "st_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l.l_returnflag,
           round(least(greatest(l_extendedprice, lo), hi), 4) AS value_w,
           (l_extendedprice < lo OR l_extendedprice > hi) AS clipped
         FROM lineitem l JOIN b USING (l_returnflag)""",
    "st_mode" ->
      """WITH f AS (SELECT l_returnflag, l_quantity AS mode_value,
             count(*) AS freq
           FROM lineitem GROUP BY 1, 2),
         r AS (SELECT l_returnflag, mode_value, freq,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY freq DESC, mode_value) AS rn
           FROM f)
         SELECT l_returnflag, mode_value, freq FROM r WHERE rn = 1""",
    "pipe_mixture" ->
      """WITH m AS (SELECT doc_id, lang,
           CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 1
                WHEN 'es' THEN 2 WHEN 'zh' THEN 0 ELSE 0 END
           + CASE WHEN substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 4) <
               CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN '0000'
                    WHEN 'fr' THEN '8000' WHEN 'es' THEN '0000'
                    WHEN 'zh' THEN '4000' ELSE '0000' END
             THEN 1 ELSE 0 END AS n
           FROM documents)
         SELECT doc_id, lang, CAST(c AS INTEGER) AS copy
         FROM (SELECT doc_id, lang, unnest(range(n)) AS c FROM m WHERE n > 0)""",
    "pipe_balance" ->
      """WITH m AS (SELECT min(c) AS m FROM
           (SELECT lang, count(*) AS c FROM documents GROUP BY 1)),
         r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY substr(md5('bal' || CAST(doc_id AS VARCHAR)), 1, 32),
                 doc_id) AS rn
           FROM documents)
         SELECT doc_id, lang FROM r, m WHERE rn <= m.m""",
    "pipe_weighted" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE substr(md5('wt' || CAST(doc_id AS VARCHAR)), 1, 6) <
           printf('%06x', CAST(floor(greatest(0.0,
             least(n_chars / 600.0, 1.0 - 1.0/16777216)) * 16777216)
             AS BIGINT))""",
    "pipe_shuffle" ->
      """WITH h AS (SELECT doc_id,
             md5('shuf' || CAST(doc_id AS VARCHAR)) AS hh
           FROM documents)
         SELECT doc_id, substr(hh, 1, 2) AS shard,
           CAST(row_number() OVER (PARTITION BY substr(hh, 1, 2)
             ORDER BY hh, doc_id) AS INTEGER) AS pos
         FROM h""",
    "st_stratified" ->
      """WITH r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         SELECT doc_id, lang FROM r WHERE rn <= 20""",
    "dwh_scd2" ->
      """WITH v AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_type, ts, event_id FROM v
               WHERE prev IS NULL OR event_type <> prev)
         SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           (lead(ts) OVER w) IS NULL AS is_current
         FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "dwh_scd6" ->
      """WITH v AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_type, ts, event_id FROM v
               WHERE prev IS NULL OR event_type <> prev),
         h AS (SELECT user_id, event_type AS hist_state,
             epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts) OVER w) AS valid_to_us,
             (lead(ts) OVER w) IS NULL AS is_current
           FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, hist_state, valid_from_us, valid_to_us,
           is_current,
           max(CASE WHEN is_current THEN hist_state END)
             OVER (PARTITION BY user_id) AS current_state
         FROM h""",
    "st_ttest_paired" ->
      """WITH hourly AS (SELECT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
               AS x,
             round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
               AS y
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1
           HAVING x IS NOT NULL AND y IS NOT NULL),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             avg(x - y) AS md, stddev_samp(x - y) AS sd
           FROM hourly)
         SELECT n, n - 1 AS df, round(md, 6) AS mean_diff,
           round(md / nullif(sd / sqrt(CAST(n AS DOUBLE)), 0), 4) AS t
         FROM m""",
    "dwh_retention" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS rows_dropped
         FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-08'
         GROUP BY 1""",
    "dwh_forget" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS rows_removed
         FROM events WHERE user_id % 50 = 7
         GROUP BY 1""",
    "dwh_pit" ->
      """WITH v AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_type, ts, event_id FROM v
               WHERE prev IS NULL OR event_type <> prev),
         d AS (SELECT user_id, event_type AS dim_state,
             ts AS valid_from, lead(ts) OVER w AS valid_to
           FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           d.dim_state, epoch_us(d.valid_from) AS valid_from_us,
           epoch_us(d.valid_to) AS valid_to_us
         FROM events e JOIN d ON e.user_id = d.user_id
           AND e.ts >= d.valid_from
           AND (d.valid_to IS NULL OR e.ts < d.valid_to)""",
    // the incremental path must reproduce the full-history rebuild, so
    // its oracle IS the full-history SQL
    "dwh_scd2_apply" ->
      """WITH v AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_type, ts, event_id FROM v
               WHERE prev IS NULL OR event_type <> prev)
         SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           (lead(ts) OVER w) IS NULL AS is_current
         FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "dwh_cdc_apply" ->
      """WITH ch AS (SELECT user_id AS c_custkey,
             CASE event_type WHEN 'error' THEN 'D'
                  WHEN 'signup' THEN 'I' ELSE 'U' END AS op,
             event_type AS new_state,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events),
         l AS (SELECT c_custkey, op, new_state FROM ch WHERE rn = 1)
         SELECT c.c_custkey, coalesce(l.new_state, c.c_mktsegment) AS state
         FROM customer c LEFT JOIN l USING (c_custkey)
         WHERE l.op IS NULL OR l.op <> 'D'
         UNION ALL
         SELECT l.c_custkey, l.new_state AS state
         FROM l
         WHERE l.op <> 'D'
           AND l.c_custkey NOT IN (SELECT c_custkey FROM customer)""",
    "dwh_snapshot_diff" ->
      """WITH snap_old AS (SELECT c_custkey, c_mktsegment FROM customer),
         snap_new AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END
               AS c_mktsegment
           FROM customer WHERE c_custkey % 97 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, 'FRESH'
           FROM customer WHERE c_custkey % 101 = 0),
         j AS (
           SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
             CASE WHEN o.c_custkey IS NULL THEN 'I'
                  WHEN n.c_custkey IS NULL THEN 'D'
                  WHEN o.c_mktsegment <> n.c_mktsegment THEN 'U' END AS op,
             n.c_mktsegment AS new_state
           FROM snap_old o FULL OUTER JOIN snap_new n USING (c_custkey))
         SELECT c_custkey, op, new_state FROM j WHERE op IS NOT NULL""",
    "dwh_surrogate" ->
      """WITH dim AS (SELECT c_custkey AS nat_key, c_custkey * 7 AS sk
           FROM customer WHERE c_custkey % 3 <> 0),
         news AS (SELECT DISTINCT o_custkey AS nat_key FROM orders o
           WHERE NOT EXISTS
             (SELECT 1 FROM dim WHERE dim.nat_key = o.o_custkey)),
         striped AS (SELECT nat_key,
             strpos('0123456789abcdef',
               substr(md5(CAST(nat_key AS VARCHAR)), 1, 1)) - 1 AS stripe
           FROM news),
         offs AS (SELECT stripe,
             CAST(coalesce(sum(c) OVER (ORDER BY stripe
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
           FROM (SELECT stripe, count(*) AS c FROM striped GROUP BY stripe)),
         rn AS (SELECT nat_key, stripe,
             row_number() OVER (PARTITION BY stripe ORDER BY nat_key) AS rn
           FROM striped)
         SELECT r.nat_key,
           CAST((SELECT coalesce(max(sk), 0) FROM dim) + o.off + r.rn
             AS BIGINT) AS sk
         FROM rn r JOIN offs o ON r.stripe = o.stripe""",
    "dq_expect" ->
      """WITH dirty AS (
           SELECT CASE WHEN l_orderkey % 983 = 0 THEN -l_orderkey
                       ELSE l_orderkey END AS l_orderkey,
             l_linenumber,
             CASE WHEN l_orderkey % 997 = 0 THEN -l_quantity
                  ELSE l_quantity END AS l_quantity,
             l_extendedprice, l_discount,
             CASE WHEN l_orderkey % 991 = 0 THEN NULL
                  ELSE l_shipdate END AS l_shipdate
           FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_shipdate
           FROM lineitem WHERE l_orderkey % 977 = 0)
         SELECT 'quantity_range' AS check_name,
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM dirty
         UNION ALL
         SELECT 'nonpositive_price',
           CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
             AS BIGINT) FROM dirty
         UNION ALL
         SELECT 'null_shipdate',
           CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) FROM dirty
         UNION ALL
         SELECT 'discount_range',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                    THEN 1 ELSE 0 END) AS BIGINT) FROM dirty
         UNION ALL
         SELECT 'dup_pk', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
         FROM (SELECT count(*) AS c FROM dirty
               GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
         UNION ALL
         SELECT 'orphan_orderkey', CAST(count(*) AS BIGINT) FROM dirty
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)""",
    "dq_drift" ->
      """WITH counts AS (
           SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'p' ELSE 'q' END
               AS side,
             CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bin,
             count(*) AS c
           FROM events GROUP BY 1, 2, 3),
         grid AS (
           SELECT e.event_type, s.side, r.bin
           FROM (SELECT DISTINCT event_type FROM events) e
           CROSS JOIN (SELECT 'p' AS side UNION ALL SELECT 'q') s
           CROSS JOIN (SELECT CAST(range AS BIGINT) AS bin FROM range(10)) r),
         dense AS (
           SELECT g.event_type, g.side, g.bin, coalesce(c.c, 0) AS c
           FROM grid g LEFT JOIN counts c
             ON g.event_type = c.event_type AND g.side = c.side
             AND g.bin = c.bin),
         props AS (
           SELECT event_type, side, bin,
             (c + 0.5) / (sum(c) OVER (PARTITION BY event_type, side) + 5.0)
               AS prop
           FROM dense)
         SELECT p.event_type, round(sum((p.prop - q.prop)
             * ln(p.prop / q.prop)), 6) AS psi
         FROM props p JOIN props q
           ON p.event_type = q.event_type AND p.bin = q.bin
           AND p.side = 'p' AND q.side = 'q'
         GROUP BY p.event_type""",
    "dwh_mv_refresh" ->
      """SELECT CAST(o_orderdate AS DATE) AS day,
           round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
         FROM orders GROUP BY 1""",
    "dq_completeness" ->
      """WITH d AS (SELECT event_id, user_id,
             CASE WHEN event_id % 991 = 0 THEN NULL ELSE value END AS value,
             CASE WHEN event_id % 983 = 0 THEN NULL ELSE props END AS props,
             event_type
           FROM events),
         w AS (SELECT count(*) AS n,
             sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS z1,
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS z2,
             sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS z3,
             sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS z4,
             sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS z5
           FROM d)
         SELECT 'event_id' AS col_name, n AS n_total,
             CAST(z1 AS BIGINT) AS n_null, round(z1 / n, 6) AS null_rate
           FROM w
         UNION ALL SELECT 'user_id', n, CAST(z2 AS BIGINT),
           round(z2 / n, 6) FROM w
         UNION ALL SELECT 'value', n, CAST(z3 AS BIGINT),
           round(z3 / n, 6) FROM w
         UNION ALL SELECT 'props', n, CAST(z4 AS BIGINT),
           round(z4 / n, 6) FROM w
         UNION ALL SELECT 'event_type', n, CAST(z5 AS BIGINT),
           round(z5 / n, 6) FROM w""",
    "dq_uniqueness" ->
      """SELECT 'orders' AS entity, 'o_orderkey' AS key_cols,
           count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
           count(*) - count(DISTINCT o_orderkey) AS dup_rows FROM orders
         UNION ALL SELECT 'customer', 'c_custkey', count(*),
           count(DISTINCT c_custkey),
           count(*) - count(DISTINCT c_custkey) FROM customer
         UNION ALL SELECT 'lineitem', 'l_orderkey,l_linenumber', count(*),
           count(DISTINCT (l_orderkey, l_linenumber)),
           count(*) - count(DISTINCT (l_orderkey, l_linenumber))
           FROM lineitem
         UNION ALL SELECT 'lineitem_orderkey', 'l_orderkey', count(*),
           count(DISTINCT l_orderkey),
           count(*) - count(DISTINCT l_orderkey) FROM lineitem
         UNION ALL SELECT 'events', 'event_id', count(*),
           count(DISTINCT event_id),
           count(*) - count(DISTINCT event_id) FROM events
         UNION ALL SELECT 'documents', 'doc_id', count(*),
           count(DISTINCT doc_id),
           count(*) - count(DISTINCT doc_id) FROM documents""",
    "dq_freshness" ->
      """WITH per AS (SELECT event_type, count(*) AS n_rows,
             max(ts) AS max_ts,
             count(DISTINCT CAST(ts AS DATE)) AS active_days,
             sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS null_values
           FROM events GROUP BY 1),
         hwm AS (SELECT max(ts) AS cm FROM events)
         SELECT event_type, n_rows, max_ts, active_days,
           CAST((CAST(floor(epoch(cm)) AS BIGINT)
             - CAST(floor(epoch(max_ts)) AS BIGINT)) // 3600 AS BIGINT)
             AS hours_behind,
           round(null_values / n_rows, 6) AS null_value_frac
         FROM per, hwm""",
    "dq_integrity" ->
      """SELECT 'orders->customer' AS relation,
           (SELECT count(*) FROM orders) AS n_child_rows,
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_null_fk,
           (SELECT count(*) FROM
             (SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL) c
             ANTI JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
             ON c.k = p.k) AS n_orphans,
           (SELECT count(DISTINCT c_custkey) FROM customer) AS n_parent_keys,
           (SELECT count(*) FROM (SELECT c_custkey FROM customer
             GROUP BY 1 HAVING count(*) > 1)) AS n_dup_parent_keys
         UNION ALL SELECT 'lineitem->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL),
           (SELECT count(*) FROM
             (SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey IS NOT NULL) c
             ANTI JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
             ON c.k = p.k),
           (SELECT count(DISTINCT o_orderkey) FROM orders),
           (SELECT count(*) FROM (SELECT o_orderkey FROM orders
             GROUP BY 1 HAVING count(*) > 1))
         UNION ALL SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
           (SELECT count(*) FROM
             (SELECT l_partkey AS k FROM lineitem WHERE l_partkey IS NOT NULL) c
             ANTI JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
             ON c.k = p.k),
           (SELECT count(DISTINCT p_partkey) FROM part),
           (SELECT count(*) FROM (SELECT p_partkey FROM part
             GROUP BY 1 HAVING count(*) > 1))
         UNION ALL SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer WHERE c_nationkey IS NULL),
           (SELECT count(*) FROM
             (SELECT c_nationkey AS k FROM customer WHERE c_nationkey IS NOT NULL) c
             ANTI JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
             ON c.k = p.k),
           (SELECT count(DISTINCT n_nationkey) FROM nation),
           (SELECT count(*) FROM (SELECT n_nationkey FROM nation
             GROUP BY 1 HAVING count(*) > 1))
         UNION ALL SELECT 'supplier->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier WHERE s_nationkey IS NULL),
           (SELECT count(*) FROM
             (SELECT s_nationkey AS k FROM supplier WHERE s_nationkey IS NOT NULL) c
             ANTI JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
             ON c.k = p.k),
           (SELECT count(DISTINCT n_nationkey) FROM nation),
           (SELECT count(*) FROM (SELECT n_nationkey FROM nation
             GROUP BY 1 HAVING count(*) > 1))""",
    "w10_retention" ->
      """WITH e AS (
           SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
           FROM events),
         f AS (SELECT user_id, d,
                 min(d) OVER (PARTITION BY user_id) AS d0 FROM e)
         SELECT CAST(d0 // 7 AS BIGINT) AS cohort_week,
           CAST((d - d0) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM f GROUP BY 1, 2""",
    "w11_path" ->
      """WITH r AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
           FROM r WHERE rn <= 5 GROUP BY user_id)
         SELECT path, count(*) AS n_users FROM p GROUP BY path
         ORDER BY n_users DESC, path LIMIT 20""",
    "ts_anomaly" ->
      """WITH w AS (
           SELECT user_id, event_id, value,
             avg(value) OVER win AS mu,
             stddev_samp(value) OVER win AS sd,
             count(value) OVER win AS n
           FROM events
           WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, round((value - mu) / sd, 4) AS z
         FROM w
         WHERE n >= 10 AND sd > 0 AND abs(value - mu) > 2 * sd""",
    "w12_markov" ->
      """WITH nx AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM nx
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT),
             6) AS prob
         FROM c""",
    "w13_rfm" ->
      """WITH per AS (
           SELECT user_id, max(epoch_us(ts)) AS last_us,
             count(*) AS frequency,
             round(sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0.0 END), 4) AS monetary
           FROM events GROUP BY user_id),
         u AS (SELECT user_id, frequency, monetary,
             ((SELECT max(last_us) FROM per) - last_us)
               // 86400000000 AS recency_days
           FROM per),
         b AS (SELECT
             quantile_cont(recency_days, 0.2) AS r2,
             quantile_cont(recency_days, 0.4) AS r4,
             quantile_cont(recency_days, 0.6) AS r6,
             quantile_cont(recency_days, 0.8) AS r8,
             quantile_cont(frequency, 0.2) AS f2,
             quantile_cont(frequency, 0.4) AS f4,
             quantile_cont(frequency, 0.6) AS f6,
             quantile_cont(frequency, 0.8) AS f8,
             quantile_cont(monetary, 0.2) AS m2,
             quantile_cont(monetary, 0.4) AS m4,
             quantile_cont(monetary, 0.6) AS m6,
             quantile_cont(monetary, 0.8) AS m8
           FROM u)
         SELECT user_id, recency_days, frequency, monetary,
           6 - (CASE WHEN recency_days <= r2 THEN 1
                     WHEN recency_days <= r4 THEN 2
                     WHEN recency_days <= r6 THEN 3
                     WHEN recency_days <= r8 THEN 4 ELSE 5 END) AS r_score,
           CASE WHEN frequency <= f2 THEN 1 WHEN frequency <= f4 THEN 2
                WHEN frequency <= f6 THEN 3 WHEN frequency <= f8 THEN 4
                ELSE 5 END AS f_score,
           CASE WHEN monetary <= m2 THEN 1 WHEN monetary <= m4 THEN 2
                WHEN monetary <= m6 THEN 3 WHEN monetary <= m8 THEN 4
                ELSE 5 END AS m_score,
           (6 - (CASE WHEN recency_days <= r2 THEN 1
                      WHEN recency_days <= r4 THEN 2
                      WHEN recency_days <= r6 THEN 3
                      WHEN recency_days <= r8 THEN 4 ELSE 5 END)) * 100
             + (CASE WHEN frequency <= f2 THEN 1 WHEN frequency <= f4 THEN 2
                     WHEN frequency <= f6 THEN 3 WHEN frequency <= f8 THEN 4
                     ELSE 5 END) * 10
             + (CASE WHEN monetary <= m2 THEN 1 WHEN monetary <= m4 THEN 2
                     WHEN monetary <= m6 THEN 3 WHEN monetary <= m8 THEN 4
                     ELSE 5 END) AS rfm_cell
         FROM u, b""",
    "sp_knn_grid" ->
      """WITH c AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS c_lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS c_lon
           FROM customer),
         s AS (SELECT s_suppkey,
             round(((s_suppkey * 23) % 1400)/10.0 - 70.0, 4) AS s_lat,
             round(((s_suppkey * 41) % 3600)/10.0 - 180.0, 4) AS s_lon
           FROM supplier),
         d AS (SELECT c_custkey, s_suppkey,
             round(2*6371.0*asin(sqrt(
               pow(sin(radians(s_lat - c_lat)/2), 2) +
               cos(radians(c_lat))*cos(radians(s_lat))*pow(sin(radians(s_lon - c_lon)/2), 2)
             )), 4) AS dist_km
           FROM c CROSS JOIN s),
         r AS (SELECT c_custkey, s_suppkey, dist_km,
             CAST(row_number() OVER (PARTITION BY c_custkey
               ORDER BY dist_km, s_suppkey) AS INTEGER) AS rnk
           FROM d)
         SELECT c_custkey, s_suppkey, dist_km, rnk FROM r WHERE rnk <= 3""",
    "ts_acf" ->
      """WITH hourly AS (
           SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type = 'click'
           GROUP BY 1),
         l AS (SELECT unnest(range(0, 13)) AS lag)
         SELECT lag, count(*) AS n_hours, round(corr(a.v, b.v), 6) AS xcorr
         FROM l CROSS JOIN hourly a JOIN hourly b ON b.hr = a.hr + lag
         GROUP BY lag""",
    "ts_gaps" ->
      """WITH g AS (SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
           FROM events)
         SELECT user_id, count(*) AS n_gaps,
           round(avg(gap_s), 4) AS mean_gap_s,
           max(gap_s) AS max_gap_s,
           round(quantile_cont(gap_s, 0.95), 4) AS p95_gap_s
         FROM g WHERE gap_s IS NOT NULL GROUP BY 1""",
    "ts_m4" ->
      """SELECT event_type,
           epoch_us(date_trunc('hour', ts)) // 86400000000 AS bucket,
           count(*) AS n,
           (min({'t': ts, 'e': event_id, 'v': value})).v AS v_first,
           (max({'t': ts, 'e': event_id, 'v': value})).v AS v_last,
           min(value) AS v_min, max(value) AS v_max
         FROM events GROUP BY 1, 2""",
    "ts_peaks" ->
      """WITH h AS (SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 200
               + count(*)) // (2 * count(*)) AS v
           FROM events GROUP BY 1, 2),
         x AS (SELECT event_type, hr, v,
             lag(v) OVER w AS pv, lead(v) OVER w AS nv,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(v) OVER (PARTITION BY event_type) AS s
           FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr))
         SELECT event_type, hr, round(v / 10000.0, 4) AS value
         FROM x
         WHERE pv IS NOT NULL AND nv IS NOT NULL
           AND v > pv AND v > nv AND v * n > s""",
    "w20_pareto" ->
      """WITH per AS (SELECT user_id, count(*) AS n_ev,
             sum(CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS cents
           FROM events GROUP BY 1),
         c AS (SELECT quantile_cont(n_ev, 0.9) AS cut FROM per)
         SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN n_ev > cut THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
           round(sum(CASE WHEN n_ev > cut THEN n_ev ELSE 0 END)
             / sum(n_ev), 6) AS event_share,
           round(sum(CASE WHEN n_ev > cut THEN cents ELSE 0 END)
             / sum(cents), 6) AS value_share
         FROM per, c""",
    "w21_concurrency" ->
      """WITH iv AS (SELECT CAST(ts AS DATE) AS day, epoch_us(ts) AS s,
             least(epoch_us(ts) + 300000000,
               epoch_us(CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP))) AS e
           FROM events),
         pts AS (SELECT day, s AS t, 1 AS delta FROM iv
           UNION ALL SELECT day, e, -1 FROM iv),
         run AS (SELECT day,
             sum(delta) OVER (PARTITION BY day ORDER BY t, delta) AS c
           FROM pts)
         SELECT day, CAST(max(c) AS BIGINT) AS max_concurrent,
           CAST(count(*)/2 AS BIGINT) AS n_sessions
         FROM run GROUP BY day""",
    "sp_silhouette" ->
      """WITH p AS (SELECT c_custkey,
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         a AS (SELECT c_custkey, lat, lon,
             CAST(floor((lat + 90) / 10) AS INTEGER) AS cl,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cn
           FROM p),
         g AS (SELECT cl, cn, round(avg(lat), 6) AS g_lat,
             round(avg(lon), 6) AS g_lon,
             CAST(count(*) AS BIGINT) AS n_pts
           FROM a GROUP BY 1, 2),
         own AS (SELECT a.c_custkey, a.lat, a.lon, a.cl, a.cn, g.n_pts,
             sqrt((a.lat - g.g_lat) * (a.lat - g.g_lat)
               + (a.lon - g.g_lon) * (a.lon - g.g_lon)) AS da
           FROM a JOIN g ON a.cl = g.cl AND a.cn = g.cn),
         nb AS (SELECT o.c_custkey, o.da, o.n_pts,
             min(sqrt((o.lat - g.g_lat) * (o.lat - g.g_lat)
               + (o.lon - g.g_lon) * (o.lon - g.g_lon))) AS db
           FROM own o JOIN g ON o.cl <> g.cl OR o.cn <> g.cn
           GROUP BY 1, 2, 3),
         s AS (SELECT CASE WHEN n_pts = 1 THEN 0.0
             ELSE (db - da) / nullif(greatest(da, db), 0) END AS s
           FROM nb)
         SELECT CAST(count(*) AS BIGINT) AS n_points,
           (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_cells,
           round(avg(s), 6) AS mean_silhouette
         FROM s""",
    "sp_moran" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cell_lat,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cell_lon,
             CAST(count(*) AS DOUBLE) AS x
           FROM p GROUP BY 1, 2),
         m AS (SELECT avg(x) AS xbar, CAST(count(*) AS BIGINT) AS n
           FROM g),
         c AS (SELECT cell_lat, cell_lon, x - xbar AS dx, n
           FROM g CROSS JOIN m),
         o AS (SELECT * FROM (VALUES (1, 0), (-1, 0), (0, 1), (0, -1))
           AS t(dlat, dlon)),
         pr AS (SELECT c.cell_lat + o.dlat AS n_lat,
             c.cell_lon + o.dlon AS n_lon, c.dx AS dx_i
           FROM c CROSS JOIN o),
         pairs AS (SELECT CAST(count(*) AS BIGINT) AS w,
             sum(pr.dx_i * c.dx) AS crs
           FROM pr JOIN c ON pr.n_lat = c.cell_lat
             AND pr.n_lon = c.cell_lon),
         d AS (SELECT sum(dx * dx) AS ssq, max(n) AS n FROM c)
         SELECT n AS n_cells, w AS w_pairs,
           round(CAST(n AS DOUBLE) / w * crs / nullif(ssq, 0), 6)
             AS moran_i,
           round(-1.0 / (n - 1), 6) AS expected_i
         FROM pairs CROSS JOIN d""",
    "sp_getis_ord" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cell_lat,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cell_lon,
             CAST(count(*) AS BIGINT) AS x
           FROM p GROUP BY 1, 2),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx FROM g),
         o AS (SELECT * FROM (VALUES (-1,-1), (-1,0), (-1,1), (0,-1),
             (0,0), (0,1), (1,-1), (1,0), (1,1)) AS t(dlat, dlon)),
         pr AS (SELECT g.cell_lat + o.dlat AS t_lat,
             g.cell_lon + o.dlon AS t_lon, g.x
           FROM g CROSS JOIN o),
         hood AS (SELECT t_lat, t_lon, CAST(count(*) AS BIGINT) AS w,
             CAST(sum(x) AS BIGINT) AS s
           FROM pr GROUP BY 1, 2)
         SELECT g.cell_lat, g.cell_lon, g.x AS n_points,
           hood.w AS w_cells,
           round(CAST(CAST(n AS HUGEINT) * s - CAST(sx AS HUGEINT) * w
               AS DOUBLE)
             / nullif(sqrt(CAST(CAST(n AS HUGEINT) * sxx
                 - CAST(sx AS HUGEINT) * sx AS DOUBLE))
               * sqrt(CAST(n * w - w * w AS DOUBLE)
                 / CAST(n - 1 AS DOUBLE)), 0.0), 6) AS gi_z
         FROM g JOIN hood ON g.cell_lat = hood.t_lat
           AND g.cell_lon = hood.t_lon
         CROSS JOIN m""",
    "sp_join_count" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cell_lat,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cell_lon,
             CAST(count(*) AS BIGINT) AS x
           FROM p GROUP BY 1, 2),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx FROM g),
         mk AS (SELECT cell_lat, cell_lon, x * n > sx AS hot
           FROM g CROSS JOIN m),
         o AS (SELECT * FROM (VALUES (0,1), (1,-1), (1,0), (1,1))
           AS t(dlat, dlon)),
         pr AS (SELECT a.hot AS hot_a, b.hot AS hot_b
           FROM mk a CROSS JOIN o
           JOIN mk b ON b.cell_lat = a.cell_lat + o.dlat
             AND b.cell_lon = a.cell_lon + o.dlon),
         ht AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hot
           FROM mk),
         c AS (SELECT
             CAST(sum(CASE WHEN hot_a AND hot_b THEN 1 ELSE 0 END)
               AS BIGINT) AS bb,
             CAST(sum(CASE WHEN NOT hot_a AND NOT hot_b THEN 1
               ELSE 0 END) AS BIGINT) AS ww,
             CAST(sum(CASE WHEN hot_a <> hot_b THEN 1 ELSE 0 END)
               AS BIGINT) AS bw
           FROM pr)
         SELECT n_cells, n_hot, bb + ww + bw AS joins, bb, ww, bw,
           round(CAST(bb + ww + bw AS DOUBLE)
             * (CAST(n_hot AS DOUBLE) / n_cells)
             * (CAST(n_hot AS DOUBLE) / n_cells), 6) AS e_bb,
           round(CAST(bb + ww + bw AS DOUBLE)
             * (1.0 - CAST(n_hot AS DOUBLE) / n_cells)
             * (1.0 - CAST(n_hot AS DOUBLE) / n_cells), 6) AS e_ww,
           round(2.0 * CAST(bb + ww + bw AS DOUBLE)
             * (CAST(n_hot AS DOUBLE) / n_cells)
             * (1.0 - CAST(n_hot AS DOUBLE) / n_cells), 6) AS e_bw
         FROM c CROSS JOIN ht""",
    "sp_grid_density" ->
      """WITH p AS (SELECT
             round(((c_custkey * 17) % 1400)/10.0 - 70.0, 4) AS lat,
             round(((c_custkey * 31) % 3600)/10.0 - 180.0, 4) AS lon
           FROM customer),
         g AS (SELECT CAST(floor((lat + 90) / 10) AS INTEGER) AS cell_lat,
             CAST(floor((lon + 180) / 10) AS INTEGER) AS cell_lon,
             count(*) AS n_points
           FROM p GROUP BY 1, 2),
         t AS (SELECT sum(n_points) AS tt FROM g)
         SELECT cell_lat, cell_lon, n_points,
           round(n_points / tt, 6) AS share
         FROM g, t
         ORDER BY n_points DESC, cell_lat, cell_lon LIMIT 15""",
    "ts_burstiness" ->
      """WITH e AS (SELECT event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t, CAST(ts AS DATE) AS day
           FROM events),
         g AS (SELECT event_type, day, t, event_id,
             t - lag(t) OVER w AS gap
           FROM e WINDOW w AS (PARTITION BY event_type, day
             ORDER BY t, event_id)),
         p AS (SELECT event_type, gap, lead(gap) OVER w AS nxt
           FROM g WINDOW w AS (PARTITION BY event_type, day
             ORDER BY t, event_id)),
         s AS (SELECT event_type, count(gap) AS n_gaps,
             sum(gap) AS s1, sum(gap * gap) AS s2,
             count(nxt) AS np,
             sum(CASE WHEN nxt IS NOT NULL THEN gap END) AS sx,
             sum(nxt) AS sy,
             sum(CASE WHEN nxt IS NOT NULL THEN gap * nxt END) AS sxy,
             sum(CASE WHEN nxt IS NOT NULL THEN gap * gap END) AS sxx,
             sum(nxt * nxt) AS syy
           FROM p WHERE gap IS NOT NULL GROUP BY 1),
         d AS (SELECT event_type, n_gaps,
             CAST(n_gaps AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
             CAST(s2 AS DOUBLE) AS s2, CAST(np AS DOUBLE) AS np,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
             CAST(syy AS DOUBLE) AS syy FROM s),
         m AS (SELECT event_type, n_gaps, nd, s1 / nd AS mu,
             sqrt((s2 - s1 * (s1 / nd)) / (nd - 1.0)) AS sd,
             np, sx, sy, sxy, sxx, syy FROM d)
         SELECT event_type, n_gaps,
           round((sd - mu) / nullif(sd + mu, 0), 6) AS burstiness,
           round((np * sxy - sx * sy) /
             nullif(sqrt((np * sxx - sx * sx) * (np * syy - sy * sy)), 0),
             6) AS memory
         FROM m""",
    "ts_rolling_corr" ->
      """WITH hourly AS (SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 200
               + count(*)) // (2 * count(*)) AS v
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1, 2),
         j AS (SELECT a.hr, a.v AS x, b.v AS y
           FROM hourly a JOIN hourly b ON b.hr = a.hr
           WHERE a.event_type = 'click' AND b.event_type = 'purchase'),
         w AS (SELECT hr, count(*) OVER win AS n_win,
             CAST(count(*) OVER win AS DOUBLE) AS n,
             CAST(sum(x) OVER win AS DOUBLE) AS sx,
             CAST(sum(y) OVER win AS DOUBLE) AS sy,
             CAST(sum(x * y) OVER win AS DOUBLE) AS sxy,
             CAST(sum(x * x) OVER win AS DOUBLE) AS sxx,
             CAST(sum(y * y) OVER win AS DOUBLE) AS syy
           FROM j
           WINDOW win AS (ORDER BY hr
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT hr, n_win, round((n * sxy - sx * sy) /
             sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
         FROM w WHERE n_win = 24""",
    "ts_theil_sen" ->
      """WITH hourly AS (SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events GROUP BY 1, 2),
         hx AS (SELECT event_type,
             hr - min(hr) OVER (PARTITION BY event_type) AS x, v
           FROM hourly),
         m AS (SELECT a.event_type,
             quantile_cont((b.v - a.v) / (b.x - a.x), 0.5) AS m
           FROM hx a JOIN hx b
             ON a.event_type = b.event_type AND b.x > a.x
           GROUP BY 1)
         SELECT event_type, round(any_value(m), 6) AS slope,
           round(quantile_cont(v - m * x, 0.5), 6) AS intercept,
           count(*) AS n_hours
         FROM hx JOIN m USING (event_type)
         GROUP BY event_type""",
    "ts_cusum" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, hour,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS i,
             sum(v) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM h),
         t AS (SELECT event_type, hour, n,
             prefix - i * (last_value(prefix) OVER (PARTITION BY event_type
               ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND
               UNBOUNDED FOLLOWING)) / n AS score
           FROM s)
         SELECT event_type, hour AS cp_hour, round(score, 4) AS cusum,
           n AS n_hours
         FROM t
         QUALIFY row_number() OVER (PARTITION BY event_type
           ORDER BY abs(score) DESC, hour) = 1""",
    "ml_knn_eval" ->
      """WITH p AS (SELECT vec_id AS p_id, embedding AS p_emb,
             label AS true_label
           FROM embeddings WHERE vec_id % 10 = 0),
         nb AS (SELECT p_id, true_label, c.vec_id AS c_id,
             c.label AS c_label,
             round(list_cosine_similarity(CAST(p.p_emb AS DOUBLE[]),
               CAST(c.embedding AS DOUBLE[])), 4) AS cos
           FROM p JOIN embeddings c ON c.vec_id <> p.p_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY p_id
             ORDER BY cos DESC, c_id) AS rk FROM nb),
         v AS (SELECT p_id, true_label, c_label,
             CAST(count(*) AS BIGINT) AS votes
           FROM rk WHERE rk <= 5 GROUP BY 1, 2, 3),
         pr AS (SELECT p_id, true_label, c_label AS pred_label,
             row_number() OVER (PARTITION BY p_id
               ORDER BY votes DESC, c_label) AS vr
           FROM v)
         SELECT true_label, CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pred_label = true_label THEN 1
             ELSE 0 END) AS DOUBLE) / count(*), 4) AS accuracy
         FROM pr WHERE vr = 1 GROUP BY 1""",
    "ml_ridge_path" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             round(corr(l_quantity, l_discount), 6) AS r12,
             round(corr(l_quantity, l_extendedprice), 6) AS r1y,
             round(corr(l_discount, l_extendedprice), 6) AS r2y
           FROM lineitem),
         g AS (SELECT CAST(unnest([0.0, 0.1, 0.5, 1.0, 5.0]) AS DOUBLE)
             AS lambda),
         x AS (SELECT lambda, n, r12, r1y, r2y,
             (1.0 + lambda) * (1.0 + lambda) - r12 * r12 AS det
           FROM m CROSS JOIN g)
         SELECT lambda, n,
           round(((1.0 + lambda) * r1y - r12 * r2y) / nullif(det, 0), 6)
             AS b1_std,
           round(((1.0 + lambda) * r2y - r12 * r1y) / nullif(det, 0), 6)
             AS b2_std
         FROM x ORDER BY lambda""",
    "ts_strength" ->
      """WITH cells AS (
           SELECT event_type, hour(ts) AS hod,
             sum(value) AS s, count(value) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, hod,
             round(CAST(sum(s) OVER (PARTITION BY event_type) AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT),
               6) AS type_mean,
             round(s / n
               - CAST(sum(s) OVER (PARTITION BY event_type) AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT),
               6) AS seasonal
           FROM cells),
         d AS (SELECT e.event_type, seasonal,
             round(e.value - type_mean - seasonal, 6) AS residual
           FROM events e JOIN t ON e.event_type = t.event_type
             AND hour(e.ts) = t.hod)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(greatest(0.0, 1.0 - var_pop(residual)
             / nullif(var_pop(seasonal + residual), 0)), 6)
             AS seasonal_strength
         FROM d GROUP BY 1""",
    "ts_markov_entropy" ->
      """WITH t AS (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS to_state
           FROM events),
         c AS (SELECT event_type AS from_state, to_state,
             CAST(count(*) AS BIGINT) AS c
           FROM t WHERE to_state IS NOT NULL GROUP BY 1, 2),
         e AS (SELECT c, from_state,
             sum(c) OVER (PARTITION BY from_state) AS cf FROM c),
         a AS (SELECT CAST(sum(c) AS BIGINT) AS nt,
             sum(c * ln(CAST(c AS DOUBLE) / cf)) AS hnum,
             CAST(count(DISTINCT from_state) AS BIGINT) AS k
           FROM e)
         SELECT nt AS n_transitions, k AS n_states,
           round(-hnum / nt, 6) AS entropy_rate,
           round(1.0 + hnum / nt / ln(CAST(k AS DOUBLE)), 6)
             AS predictability
         FROM a""",
    "ts_seasonal" ->
      """WITH cells AS (
           SELECT event_type, hour(ts) AS hod,
             sum(value) AS s, count(value) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, hod,
             round(CAST(sum(s) OVER (PARTITION BY event_type) AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT),
               6) AS type_mean,
             round(s / n
               - CAST(sum(s) OVER (PARTITION BY event_type) AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT),
               6) AS seasonal
           FROM cells)
         SELECT event_id, e.event_type, hour(e.ts) AS hod, type_mean,
           seasonal,
           round(e.value - type_mean - seasonal, 6) AS residual
         FROM events e JOIN t ON e.event_type = t.event_type
           AND hour(e.ts) = t.hod""",
    "ts_xcorr" ->
      """WITH hourly AS (
           SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
             CAST((sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 20000
               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS v
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1, 2),
         a AS (SELECT hr, v AS va FROM hourly WHERE event_type = 'click'),
         b AS (SELECT hr AS hr_b, v AS vb FROM hourly
               WHERE event_type = 'purchase'),
         l AS (SELECT unnest(range(-6, 7)) AS lag)
         SELECT lag, count(*) AS n_hours, round(corr(va, vb), 6) AS xcorr
         FROM l CROSS JOIN a JOIN b ON hr_b = hr + lag
         GROUP BY lag""",
    "dd_incremental_bloom" ->
      """WITH newd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         oldd AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
         nf AS (SELECT doc_id, n_chars,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp,
             row_number() OVER (
               PARTITION BY md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
               ORDER BY doc_id) AS rn
           FROM newd),
         ofp AS (SELECT DISTINCT
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
           FROM oldd)
         SELECT doc_id, n_chars FROM nf
         WHERE rn = 1 AND fp NOT IN (SELECT fp FROM ofp)""",
    "st_chi2" ->
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
               FROM documents GROUP BY 1, 2),
         rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
         g AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         grid AS (SELECT rt.a, ct.b, ra, cb, coalesce(o, 0) AS o, n
                  FROM rt CROSS JOIN ct
                  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
                  CROSS JOIN g)
         SELECT round(sum(pow(o - ra*cb/n, 2) / (ra*cb/n)), 4) AS chi2,
           (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS df,
           max(n) AS n_total
         FROM grid""",
    "st_cramers_v" ->
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
               FROM documents GROUP BY 1, 2),
         rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
         g AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         grid AS (SELECT rt.a, ct.b, ra, cb, coalesce(o, 0) AS o, n
                  FROM rt CROSS JOIN ct
                  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
                  CROSS JOIN g),
         s AS (SELECT sum(pow(o - ra*cb/n, 2) / (ra*cb/n)) AS chi2,
             count(DISTINCT a) AS ka, count(DISTINCT b) AS kb,
             max(n) AS n_total
           FROM grid)
         SELECT round(sqrt(chi2 / (n_total * least(ka - 1, kb - 1))), 6)
             AS cramers_v,
           round(chi2, 4) AS chi2, (ka - 1) * (kb - 1) AS df, n_total
         FROM s""",
    "dq_missing_hours" ->
      """WITH h AS (SELECT DISTINCT
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr
           FROM events),
         span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM h),
         exp AS (SELECT unnest(generate_series(h0, h1)) AS hr FROM span),
         mis AS (SELECT CAST(count(*) AS BIGINT) AS n_missing,
             min(e.hr) AS first_missing_hr
           FROM exp e LEFT JOIN h ON e.hr = h.hr WHERE h.hr IS NULL)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM exp) AS n_expected,
           (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_observed,
           n_missing, first_missing_hr,
           round(CAST((SELECT count(*) FROM h) AS DOUBLE)
             / (SELECT count(*) FROM exp), 6) AS coverage
         FROM mis""",
    "dq_ks_drift" ->
      """WITH w AS (SELECT value,
             CASE WHEN ts < DATE '2024-01-15' THEN 'w1' ELSE 'w2' END
               AS wk
           FROM events),
         pts AS (
           SELECT value AS v,
             sum(CASE WHEN wk = 'w1' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN wk = 'w2' THEN 1 ELSE 0 END) AS cb
           FROM w GROUP BY value),
         cum AS (
           SELECT
             CAST(sum(ca) OVER (ORDER BY v) AS BIGINT)
               / CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS fa,
             CAST(sum(cb) OVER (ORDER BY v) AS BIGINT)
               / CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS fb
           FROM pts)
         SELECT round(max(abs(fa - fb)), 6) AS d_stat,
           CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS n_a,
           CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS n_b
         FROM cum""",
    "st_ks" ->
      """WITH pts AS (
           SELECT value AS v,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY value),
         cum AS (
           SELECT
             CAST(sum(ca) OVER (ORDER BY v) AS BIGINT)
               / CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS fa,
             CAST(sum(cb) OVER (ORDER BY v) AS BIGINT)
               / CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS fb
           FROM pts)
         SELECT round(max(abs(fa - fb)), 6) AS d_stat,
           CAST((SELECT sum(ca) FROM pts) AS BIGINT) AS n_a,
           CAST((SELECT sum(cb) FROM pts) AS BIGINT) AS n_b
         FROM cum""",
  )
}
