package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Loops.bcOr

/** Graph analytics over edge lists derived from the warehouse (the
  * co-purchase / interaction graphs a feature pipeline mines). No graph
  * library: ranks and degrees are plain DataFrames, so every step is
  * Catalyst-planned (partial aggs, AQE) and the iteration state is
  * node-sized, never edge-sized.
  */
object Graph {

  /** Fixed-iteration PageRank (simplified: dangling mass leaks, as in
    * the classic map-reduce formulation). `edges` is a directed (src,
    * dst) list — undirected graphs union the reverse before calling.
    *
    * Scale shape: the edge list is deduped + checkpointed ONCE with its
    * out-degrees attached (the loop never re-derives static state);
    * each iteration is one edge⋈rank join (rank frame is node-sized —
    * AQE broadcasts it under the threshold) + one partial-agg shuffle
    * on dst. Per-iteration round(…, 9) pins both oracle engines to the
    * same doubles, so unordered in-neighbor sums cannot drift across
    * iterations.
    *
    * Iterations are a fixed count, not run-to-convergence: the result
    * is a deterministic function of the graph at any scale (and the
    * oracle unrolls the same count). */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85): DataFrame = {
    val ed = edges.select("src", "dst").distinct()
      .withColumn("outdeg",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint(true)
    val nodes = ed.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    val base = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val msum = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      // no checkpoint here: each iteration's ranks are consumed exactly
      // once (by the next), so the loop stays ONE lazy 5-stage plan —
      // only the multiply-referenced static frames above materialize
      ranks = nodes
        .join(msum, nodes("node") === msum("dst"), "left")
        .select(col("node"),
          round(lit(base) + lit(damping) * coalesce(col("m"), lit(0.0)), 9)
            .as("rank"))
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** KATZ centrality — influence through ALL attenuated walks, the
    * companion [[pageRank]] can't replace: PageRank divides each
    * endorsement by the endorser's out-degree (a hub dilutes itself),
    * while Katz counts every walk at α per hop — x = Σ_k α^k (Aᵀ)^k·β1
    * — so raw reach through well-connected neighbors accumulates. α
    * must stay below 1/λ_max for the series to converge; the fixed
    * iteration count makes the result a deterministic PARTIAL sum
    * either way (the contract, as with pageRank's fixed 5 rounds).
    *
    * Identical scale shape to [[pageRank]]: static edge frame
    * checkpointed once, node-sized score frame per round (one edge⋈
    * score join + one partial-agg shuffle on dst), per-round
    * round(…, 9) pinning both engines to the same doubles so the
    * unordered in-neighbor sums cannot drift across rounds; the
    * oracle unrolls the same rounds. */
  def katzCentrality(edges: DataFrame, iterations: Int = 6,
                     alpha: Double = 0.005, beta: Double = 1.0)
      : DataFrame = {
    val ed = edges.select("src", "dst").distinct().localCheckpoint(true)
    val nodes = ed.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var x = nodes.withColumn("score", lit(beta))
    for (_ <- 1 to iterations) {
      val msum = ed.join(x, ed("src") === x("node"))
        .select(col("dst"), col("score"))
        .groupBy("dst").agg(sum("score").as("m"))
      x = nodes.join(msum, nodes("node") === msum("dst"), "left")
        .select(col("node"),
          round(lit(beta) + lit(alpha) * coalesce(col("m"), lit(0.0)), 9)
            .as("score"))
    }
    x.select(col("node"), round(col("score"), 6).as("katz"))
  }

  /** PERSONALIZED PageRank from a seed set — the recommendation
    * workhorse ([[pageRank]] answers "globally important"; PPR answers
    * "important RELATIVE TO these seeds" — the same loop, but teleport
    * mass returns to the seeds instead of everywhere, so scores decay
    * with distance from the seed neighborhood): seeds = the
    * `nSeeds` smallest node ids (deterministic — the oracle picks
    * identical ones), rank₀ uniform over seeds, each round
    * r ← (1−d)·seed_mass + d·A^T(r/outdeg).
    *
    * Identical scale shape to [[pageRank]] (static edges checkpointed
    * once, node-sized rank frame per round, per-round round(…,9));
    * the oracle unrolls the same 5 rounds with the seed-restricted
    * base term. */
  def personalizedPageRank(edges: DataFrame, nSeeds: Int = 4,
                           iterations: Int = 5,
                           damping: Double = 0.85): DataFrame = {
    val ed = edges.select("src", "dst").distinct()
      .withColumn("outdeg",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint(true)
    // guarded rank/msum frames (Loops.bcOr; measured isolated sf0.1:
    // 3.5 → 2.6 s warm, bit-identical): the node count rides the
    // checkpoint's own job
    val (nodes, nNodes) = Loops.checkpointCounted(
      ed.select(col("src").as("node")).distinct())
    val seeds = nodes.orderBy("node").limit(nSeeds)
      .withColumn("base", lit(1.0 / nSeeds))
      .localCheckpoint(true)
    var ranks = nodes
      .join(broadcast(seeds.select(col("node"), col("base"))),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("base"), lit(0.0)).as("rank"))
    for (_ <- 1 to iterations) {
      val msum = ed.join(bcOr(ranks, nNodes), ed("src") === ranks("node"))
        .select(col("dst"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = nodes
        .join(bcOr(msum, nNodes), nodes("node") === msum("dst"), "left")
        .join(broadcast(seeds.select(col("node"), col("base"))),
          Seq("node"), "left")
        .select(col("node"),
          round((lit(1.0) - damping) * coalesce(col("base"), lit(0.0)) +
            lit(damping) * coalesce(col("m"), lit(0.0)), 9).as("rank"))
    }
    // Bench-number note (r9 probe): gr_ppr reads ~3 s slower than
    // gr_pagerank in the bench NOT because the loop differs — this
    // reachability filter forces the rank column to actually compute,
    // while a bare count() over pageRank's output lets Catalyst prune
    // the entire rank expression tree. Same loop, honest number here,
    // flattered number there. A pre-filter localCheckpoint was
    // measured (3.6 s vs 3.4 s warm) and rejected.
    ranks.select(col("node"), round(col("rank"), 6).as("ppr"))
      .filter(col("ppr") > 0)
  }

  /** Fixed-iteration EIGENVECTOR centrality ([[pageRank]]'s undamped
    * sibling — influence ∝ the influence of your neighbors, with no
    * teleport floor, so peripheral trees score ~0 instead of the
    * PageRank baseline): 5 power-iteration rounds x ← A·x from the
    * all-ones start, normalized at the END by the MAX score (a single
    * deterministic reduce — max commutes, unlike the L1/L2 norms whose
    * unordered sums drift across engines/partitionings).
    *
    * Same scale shape as [[pageRank]]: static edge frame checkpointed
    * once, each round is one edge⋈score join (score frame node-sized →
    * AQE broadcast) + one partial-agg shuffle on dst; per-round
    * round(…, 9) pins both oracle engines to identical doubles.
    * Un-normalized scores grow like λ₁^k — 5 rounds at hub degree 10⁴
    * stays ≤1e20, inside double range; more rounds at larger hubs
    * should normalize per-round (documented trade for oracle
    * exactness at the contract's fixed k). */
  def eigenvectorCentrality(edges: DataFrame, iterations: Int = 5)
      : DataFrame = {
    val ed = edges.select("src", "dst").distinct().localCheckpoint(true)
    val nodes = ed.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var x = nodes.withColumn("score", lit(1.0))
    for (_ <- 1 to iterations) {
      val m = ed.join(x, ed("src") === x("node"))
        .groupBy("dst").agg(sum("score").as("m"))
      x = nodes.join(m, nodes("node") === m("dst"), "left")
        .select(col("node"),
          round(coalesce(col("m"), lit(0.0)), 9).as("score"))
    }
    val mx = x.agg(max("score").as("mx"))
    x.crossJoin(broadcast(mx))
      .select(col("node"),
        round(col("score") / col("mx"), 6).as("eig"))
  }

  /** Degree histogram: how many nodes have each (out-)degree — the
    * 30-second shape check on any mined graph. Two narrow partial-agg
    * rollups, output is degree-cardinality-sized. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.select("src", "dst").distinct()
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** DEGREE GINI — inequality of the degree distribution in one
    * number (the hub-concentration summary [[degreeHistogram]] shows
    * as a curve and gr_powerlaw fits asymptotically; Gini reads
    * directly: 0 = regular graph, →1 = a few hubs own the edges):
    * G = Σ(2r−N−1)·dᵣ / (N·Σd) over nodes ranked ascending by degree.
    * NO per-node rank — the rank sum folds per DEGREE VALUE (all k
    * nodes sharing degree d form one contiguous block, intra-block
    * order cannot matter), offsets ride the tiny distinct-degree
    * frame; exact integers to one division (the tx_vocab_gini fold). */
  def degreeGini(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val bc = degreeHistogram(edges)
      .select(col("degree"), col("n_nodes").as("k"))
    val w = Window.orderBy("degree")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = bc.withColumn("off", coalesce(sum("k").over(w), lit(0L)))
    val g = bc.agg(sum("k").as("nn"),
      sum(col("degree") * col("k")).as("sd"))
    blocks.crossJoin(broadcast(g))
      .agg(max("nn").as("n_nodes"), max("sd").as("sum_degree"),
        sum(col("degree").cast(dec) *
          ((col("k").cast(dec) * col("off").cast(dec) * 2 +
            col("k").cast(dec) * (col("k") + 1).cast(dec)) -
            col("k").cast(dec) * (col("nn") + 1).cast(dec)))
          .as("gnum"))
      .select(col("n_nodes"), col("sum_degree"),
        round(col("gnum").cast("double") /
          (col("n_nodes").cast(dec) * col("sum_degree").cast(dec))
            .cast("double"), 6).as("gini"))
  }

  /** CONDUCTANCE per community — the per-community quality score
    * [[modularity]]'s single global number hides: φ(C) = cut(C) /
    * min(vol(C), 2m−vol(C)), low φ = a real community (few escaping
    * edges), φ→1 = a label bag. Run over [[labelPropagation]]'s
    * labels; the edge⋈labels joins are the SAME two equi-joins
    * modularity pays (node-sized broadcast side), the rollup is
    * community-sized, the global 2m rides a 1-row broadcast, top-K by
    * volume via TakeOrdered.
    *
    * PRECONDITION (r14 ADVICE): `labels` must label every edge
    * endpoint EXACTLY ONCE — one row per node, total over the edge
    * list's node set. The 2m denominator is derived as |distinct
    * edges| (see below), which equals Σ_c vol_c only under that
    * identity; a partial or duplicated label frame silently skews φ.
    * Callers here always pass [[labelPropagation]] output over the
    * same edge list, which is total-by-construction; GraphSpec pins
    * the |j| == |e| identity at test scale. */
  def conductance(edges: DataFrame, labels: DataFrame,
                  topK: Int = 10): DataFrame = {
    // FULLY LAZY label lineage, RE-CONFIRMED r15: materializing the
    // LPA chain here (labels.localCheckpoint(true) + count off it)
    // probe-measured 8.2 s suite / 9.5 s isolated vs 6.6/6.3 lazy at
    // sf0.1, so the r13 lazy trade stands: the two label probes re-run
    // the lazy chain once each (~1.4 s, gr_lpa's own bench number). A
    // checkpoint does run under adaptive execution (a final
    // AdaptiveSparkPlan with AQE-coalesced shuffle reads,
    // plans/r18/gr_bfs_round_after.txt), so that is not what makes the
    // materialized chain slower here; the cause is not known.
    // guarded label probes (Loops.bcOr). Counting `labels` would run the
    // chain a THIRD time, so the guard measures the node count off the
    // EDGE frame instead — under the documented precondition (labels
    // cover the edge endpoints exactly once) |labels| = |distinct
    // src| of the symmetric edge list.
    // NOTE (r15 ADVICE): this count is an EAGER action at call time —
    // a caller passing a non-checkpointed edge frame pays one full
    // edge-lineage run here; and the |labels| = |distinct src|
    // identity assumes the SYMMETRIC-edge precondition above (a
    // directed caller should count distinct endpoints of BOTH columns
    // or the guard under-counts the broadcast side — perf/OOM risk
    // only, results unaffected). Every in-repo caller passes the
    // warm-checkpointed symmetric co-purchase frame.
    val nLabels = edges.select(col("src")).distinct().count()
    val e = edges.select("src", "dst").distinct()
    val j = e
      .join(bcOr(labels.select(col("node").as("src"),
        col("label").as("cs")), nLabels), Seq("src"))
      .join(bcOr(labels.select(col("node").as("dst"),
        col("label").as("cd")), nLabels), Seq("dst"))
    val perC = j.groupBy(col("cs").as("community"))
      .agg(count(lit(1)).as("vol"),
        sum(when(col("cs") === col("cd"), 1L).otherwise(0L)).as("inside"))
    // 2m = Σ_c vol_c = |j| = |e| (every endpoint is labeled — the
    // labels frame is built from the same edge list), so the total
    // volume comes straight off the edge frame and perC is consumed
    // exactly ONCE: no checkpoint, no double-derived join tree
    perC.crossJoin(broadcast(e.agg(count(lit(1)).as("m2"))))
      .select(col("community"), col("vol"),
        (col("vol") - col("inside")).as("cut"),
        round((col("vol") - col("inside")).cast("double") /
          nullif(least(col("vol"), col("m2") - col("vol"))
            .cast("double"), lit(0.0)), 6).as("conductance"))
      .orderBy(desc("vol"), asc("community"))
      .limit(topK)
  }

  /** RECIPROCITY of a directed edge list — the share of edges whose
    * reverse also exists ("is attention returned": mutual follows,
    * two-way trade). A left-semi self-join on the swapped key pair —
    * one equi-join on (src,dst), no counting matrix — then two scalar
    * counts folded into one rollup via a flag column. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst").distinct()
    val flagged = e.join(
      e.select(col("dst").as("src"), col("src").as("dst"))
        .withColumn("__rev", lit(1)),
      Seq("src", "dst"), "left")
    flagged.agg(count(lit(1)).as("n_edges"),
      sum(coalesce(col("__rev"), lit(0))).as("n_mutual"))
      .select(col("n_edges"), col("n_mutual"),
        round(col("n_mutual").cast("double") / col("n_edges"), 6)
          .as("reciprocity"))
  }

  /** POWER-LAW TAIL EXPONENT of the degree distribution — the Hill
    * maximum-likelihood estimator with Clauset's discrete −½ offset:
    * α̂ = 1 + n/Σ ln(dᵢ/(d_min−½)) over nodes with degree ≥ d_min.
    * The one-number answer to "is this graph scale-free enough that
    * hub-aware designs (salting the hot keys, capping bucket fan-out)
    * are load-bearing" — α near 2 means the heaviest hub carries a
    * constant fraction of all edges; α > 3 means hubs are tame.
    * Same one-shuffle degree rollup as [[degreeHistogram]], then a
    * single tail aggregate — nodes-sized, no sort. */
  def powerLawFit(edges: DataFrame, dmin: Int = 2): DataFrame = {
    val deg = edges.select("src", "dst").distinct()
      .groupBy("src").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= dmin)
      .agg(count(lit(1)).as("n_tail"), max("degree").as("d_max"),
        sum(log(col("degree").cast("double") / (dmin - 0.5))).as("slog"))
      .select(lit(dmin).as("d_min"), col("n_tail"), col("d_max"),
        round(lit(1.0) + col("n_tail") / nullif(col("slog"), lit(0.0)), 6)
          .as("alpha"))
  }

  /** DETERMINISTIC random walks (DeepWalk/node2vec's corpus-generation
    * step — the walk sequences ARE the training data an embedding
    * pipeline feeds to skip-gram): one fixed-length walk per node,
    * every step chosen by a salted md5 of (step, current node) modulo
    * out-degree — no RNG state, so walks replay bit-identically on any
    * cluster and the oracle can re-derive them.
    *
    * Scale shape: neighbors are ranked ONCE (row_number per src,
    * checkpointed — the walk loop never re-sorts); each step is one
    * walk⋈ranked-edges equi-join on the current node filtered to the
    * chosen rank — edge-list-sized work per step, the pageRank
    * iteration class. Output is WIDE (start, n1..nL) so downstream
    * skip-gram windows are row-local. */
  def randomWalks(edges: DataFrame, steps: Int = 3,
                  salt: String = "rw"): DataFrame = {
    require(steps >= 1 && steps <= 8, "walk length is a literal chain")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select("src", "dst").distinct()
    val ranked = e
      .withColumn("rk",
        row_number().over(Window.partitionBy("src").orderBy("dst")))
      .withColumn("deg",
        count(lit(1)).over(Window.partitionBy("src")))
      .localCheckpoint(true)
    var walk = ranked.select(col("src").as("start")).distinct()
      .withColumn("cur", col("start"))
    for (i <- 1 to steps) {
      val pick = pmod(
        conv(substring(md5(concat(lit(s"$salt:$i:"),
          col("cur").cast("string"))), 1, 4), 16, 10).cast("long"),
        col("deg")) + 1
      walk = walk.join(ranked, walk("cur") === ranked("src"))
        .filter(col("rk") === pick)
        .drop("cur", "src", "rk", "deg")
        .withColumnRenamed("dst", s"n$i")
        .withColumn("cur", col(s"n$i"))
    }
    walk.drop("cur")
  }

  /** HITS hubs & authorities over a DIRECTED graph — [[pageRank]]'s
    * bipartite-minded sibling (on the customer→supplier graph: hubs =
    * buyers who concentrate on authoritative suppliers, authorities =
    * suppliers favored by strong hubs; one score family per side,
    * which PageRank's single score can't express).
    *
    * Scale shape mirrors pageRank: the edge list dedups + checkpoints
    * once; each iteration is two edge⋈score joins (score frames are
    * node-sized — AQE broadcasts under the threshold) + two partial-agg
    * rollups. Normalization is by MAX, not sum — max is
    * partition-order-independent, so with per-iteration round(…, 9)
    * both oracle engines walk identical doubles (the pageRank
    * discipline). Fixed iteration count; the oracle unrolls the same
    * count. Output: (node, role, score) for both sides, round 6. */
  def hits(edges: DataFrame, iterations: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ed = edges.select("src", "dst").distinct().localCheckpoint(true)
    val hub0 = ed.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1.0))
    // max-normalization via a single-partition window over the
    // NODE-SIZED score frame: one consumer per iteration frame, so the
    // whole loop stays ONE lazy plan (a crossJoin(agg(max)) variant
    // gives every frame two consumers and recomputes the prefix each
    // iteration — measured 5.3 s → this shape, the pageRank discipline)
    val wAll = Window.partitionBy()
    var hubs = hub0
    var auths: DataFrame = null
    for (i <- 1 to iterations) {
      auths = ed.join(hubs, ed("src") === hubs("node"))
        .groupBy(col("dst")).agg(sum("h").as("ar"))
        .select(col("dst").as("node"),
          round(col("ar") / max("ar").over(wAll), 9).as("a"))
      // the LAST auths frame feeds both the final hub step and the
      // output union — checkpoint that one (node-sized) so the chain
      // isn't walked twice; earlier frames have exactly one consumer
      if (i == iterations) auths = auths.localCheckpoint(true)
      hubs = ed.join(auths, ed("dst") === auths("node"))
        .groupBy(col("src")).agg(sum("a").as("hr"))
        .select(col("src").as("node"),
          round(col("hr") / max("hr").over(wAll), 9).as("h"))
    }
    // 6dp by floor(x·1e6 + 0.5) (Exact's convention): round() of a 9dp
    // double on the half splits engines (seed 43: 0.063482 vs 0.063481)
    def dp6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    hubs.select(col("node"), lit("hub").as("role"), dp6(col("h")).as("score"))
      .unionByName(auths.select(col("node"),
        lit("authority").as("role"), dp6(col("a")).as("score")))
  }

  /** Canonical undirected edge set (a < b, self-loops dropped),
    * checkpointed: every caller reads it more than once. */
  private def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)

  /** Both directions of every edge as distinct (a, b) rows. */
  private def symmetricEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .distinct()

  /** Degree-oriented triangle enumeration shared by [[triangleStats]],
    * [[localClustering]] and [[edgeEmbeddedness]]: canonical edges are
    * ORIENTED from lower (degree, id) to higher, which caps every node's
    * out-degree at O(√m), so the wedge self-join emits O(m^1.5) rows
    * worst case and each triangle appears exactly once (its lowest-order
    * corner is the only one with out-edges to both others). Returns
    * (canonical edges, node degrees, triangles (u, x, y)). */
  private def orientedTriangles(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val und = canonicalEdges(edges)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            col("da").as("du"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            col("db").as("du"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"),
        col("e.du").as("du"), col("e.dv").as("dv"))
      .localCheckpoint(true) // wedge join reads it twice (left + closure)
    // two out-edges of the same center, endpoints kept in orientation
    // order, closed iff the (x, y) out-edge exists
    val o2 = oriented.select(col("u").as("u2"), col("v").as("y"),
      col("dv").as("dy"))
    val tris = oriented
      .join(o2, col("u") === col("u2") &&
        (col("dv") < col("dy") ||
          (col("dv") === col("dy") && col("v") < col("y"))))
      .select(col("u"), col("v").as("x"), col("y"))
      .join(oriented.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_semi")
    (und, deg, tris)
  }

  /** Triangle census of an undirected graph: node/edge/wedge/triangle
    * counts plus the global clustering coefficient (3·triangles /
    * wedges) — the one-row shape summary that tells a pipeline whether
    * a mined co-occurrence graph is clustered or noise.
    *
    * Scale shape: [[orientedTriangles]] — O(m^1.5) wedge rows worst
    * case, never the deg² explosion a hub would produce under naive
    * adjacency pairing; all joins are equi-joins on ids. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val (_, deg, tris) = orientedTriangles(edges)
    val nTri = tris.agg(count(lit(1)).as("n")).select(col("n"))
    val shape = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
    shape.crossJoin(nTri.withColumnRenamed("n", "n_triangles"))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coeff"))
  }

  /** Common-neighbor / Jaccard link prediction: the `topN` non-adjacent
    * node pairs ranked by Jaccard overlap of their neighborhoods — the
    * classic "who should be connected" scoring over a mined graph.
    * Deterministic cut: (jaccard desc, x, y) is a total order because
    * the canonical pair (x < y) is unique.
    *
    * Scale shape: candidate pairs come from the wedge join (only pairs
    * with ≥1 common neighbor are ever materialized — never all-pairs);
    * the common count is a partial agg on the pair key, degrees join on
    * node ids, and existing edges leave via a broadcast-able left_anti.
    * Hub nodes emit deg² wedge rows; at 100 TB the standard mitigation
    * is capping or sampling hub adjacency before pairing (documented
    * trade-off — the exact ranking here is what the oracle checks). */
  def jaccardLinks(edges: DataFrame, topN: Int = 20): DataFrame = {
    val und = canonicalEdges(edges)
    val nbrs = und.select(col("a").as("u"), col("b").as("w"))
      .unionAll(und.select(col("b").as("u"), col("a").as("w")))
    val deg = nbrs.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val common = nbrs.alias("n1")
      .join(nbrs.alias("n2"),
        col("n1.w") === col("n2.w") && col("n1.u") < col("n2.u"))
      .select(col("n1.u").as("x"), col("n2.u").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("common"))
    common
      .join(und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
      .select(col("x"), col("y"), col("common"),
        round(col("common").cast("double") /
          (col("dx") + col("dy") - col("common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("x"), col("y"))
      .limit(topN)
  }

  /** ADAMIC–ADAR link prediction — [[jaccardLinks]]' weighted sibling:
    * a shared RARE neighbor is strong evidence, a shared hub is
    * nearly none, so each common neighbor w contributes 1/ln(deg(w))
    * instead of 1 (the classic fix for hub-dominated graphs where
    * Jaccard ranks everything touching the hub alike).
    *
    * Same wedge-join shape (only pairs with ≥1 common neighbor ever
    * materialize; hub cap mitigation documented at jaccardLinks), but
    * the per-pair sum is over DOUBLES — so each 1/ln(deg) term
    * quantizes to integer NANO-units at the wedge row and the pair
    * rollup sums exact longs (partition-invariant, and the
    * (score, x, y) cut is a total order on integers). */
  def adamicAdarLinks(edges: DataFrame, topN: Int = 20): DataFrame = {
    val und = canonicalEdges(edges)
    val nbrs = und.select(col("a").as("u"), col("b").as("w"))
      .unionAll(und.select(col("b").as("u"), col("a").as("w")))
    val deg = nbrs.groupBy(col("w").as("wn")).agg(count(lit(1)).as("dw"))
    val pairs = nbrs.alias("n1")
      .join(nbrs.alias("n2"),
        col("n1.w") === col("n2.w") && col("n1.u") < col("n2.u"))
      .select(col("n1.u").as("x"), col("n2.u").as("y"),
        col("n1.w").as("w"))
      .join(deg, col("w") === col("wn"))
      // a common neighbor has degree ≥ 2, so ln(dw) > 0 always
      .withColumn("t", round(lit(1e9) / log(col("dw"))).cast("long"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"), sum("t").as("su"))
    pairs
      .join(und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .orderBy(col("su").desc, col("x"), col("y"))
      .limit(topN)
      // floor convention (Exact.scala): su/1000 exact for integer
      // nano-sums, so the 6dp half-case quantizes identically both sides
      .select(col("x"), col("y"), col("n_common"),
        (floor(col("su") / 1000.0 + 0.5) / 1e6).as("aa_score"))
  }

  /** k-core decomposition at a fixed k: the maximal
    * subgraph in which every surviving node keeps ≥ k neighbors,
    * found by iterative peeling — drop all nodes of degree < k,
    * recompute, repeat until a full round removes nothing. Output is
    * (node, core_deg): membership plus the within-core degree.
    *
    * Scale shape: each round is ONE partial-agg degree rollup plus two
    * left_semi joins against the node-sized survivor frame (AQE
    * broadcasts it once it fits — and it only shrinks). The surviving
    * edge frame is localCheckpoint'd per round: it is consumed three
    * times (degree agg, next join, convergence count), and peeling
    * depth is data-dependent so an uncut lineage would grow without
    * bound. Rounds are bounded by the peeling depth (≤ longest
    * degeneracy chain, ~tens on real graphs), never by graph size;
    * convergence is edge-count stability (rounds only remove edges), an
    * O(1) driver scalar. Peeling that has not settled within
    * `maxRounds` throws rather than return a partial core. */
  def kCore(edges: DataFrame, k: Int = 3, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    val und = symmetricEdges(edges).localCheckpoint(true)
    // the keep frame is node-sized: guard it by the node count, measured
    // once off the initial checkpoint at its first use
    lazy val nNodes = und.select(col("a")).distinct().count()
    val (core, settled) = Loops.fixpoint(und, maxRounds)(_.count()) { cur =>
      val keep = cur.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("a")
      cur.join(bcOr(keep, nNodes), Seq("a"), "left_semi")
        .join(bcOr(keep.select(col("a").as("b")), nNodes), Seq("b"),
          "left_semi")
    }
    if (!settled) throw new IllegalStateException(
      s"kCore peeling did not settle in $maxRounds rounds")
    core.groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** FULL coreness decomposition — every node's core NUMBER (the
    * largest k whose k-core contains it), not just membership at one
    * fixed k: the standard "how deep in the dense part" feature for
    * influence ranking and graph-aware sampling. Output is the
    * (coreness, n_nodes) histogram.
    *
    * Algorithm: H-INDEX ITERATION (Lü et al. 2016 — c(v) initialized
    * to degree, each round c(v) ← H-index of its neighbors' c values;
    * the sequence is monotone non-increasing and its fixpoint IS the
    * coreness), chosen over ascending peel-to-fixpoint because the
    * round count is a small data-diameter-ish constant with ONE
    * join + rollup per round — peeling pays Σ fixpoint depths across
    * every k level (measured 5× slower on the co-supply graph).
    * The per-node H-index uses the COUNTING form, never a per-node
    * array: with the neighbor-value histogram (node, w, n) and the
    * descending cumulative count C_w = #neighbors with value ≥ w,
    * h = max_w min(w, C_w) — so a 10⁷-degree hub contributes at most
    * #distinct-current-c rows (≤ √(2m) once converged), map-side
    * combined, window-sorted and spillable, instead of one 10⁷-element
    * collect_list row (the straggler/OOM a skewed 100 TB graph would
    * hit). Convergence is one Σc scalar per round (per-node c is
    * monotone non-increasing, so an unchanged Σc is a true fixpoint);
    * state (node, c) checkpoints per round (loop-carried).
    *
    * `maxIters` is a RESULT contract, like [[bfs]]'s `maxDepth`: at the
    * cap the current (upper-bound) c is returned, not an error —
    * gr_coreness pins it to the oracle's 10-round unroll. */
  def coreness(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    val und = symmetricEdges(edges).repartition(col("b")).localCheckpoint(true)
    val (c0, nNodes) = Loops.checkpointCounted(
      und.groupBy(col("a").as("node")).agg(count(lit(1)).cast("int").as("c")))
    // h = max_w min(w, C_w) over the neighbor-value histogram, where
    // C_w = #neighbors with value ≥ w (proof: count(values ≥ k) ≥ k
    // holds for k = min(w, C_w) at every distinct w, and the max over
    // thresholds is attained at a distinct value)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("cb").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val (c, _) = Loops.fixpoint(c0, maxIters)(
        _.agg(sum("c")).head().getLong(0)) { cur =>
      und
        .join(bcOr(cur.select(col("node").as("b"), col("c").as("cb")),
          nNodes), Seq("b"))
        .groupBy(col("a"), col("cb"))
        .agg(count(lit(1)).as("n"))
        .withColumn("cw", sum("n").over(wCum))
        .groupBy(col("a").as("node"))
        .agg(max(least(col("cb").cast("long"), col("cw")))
          .cast("int").as("c"))
    }
    c.groupBy("c").agg(count(lit(1)).as("n_nodes"))
      .withColumnRenamed("c", "coreness")
  }

  /** Degree assortativity coefficient — "do hubs link to hubs?" — the
    * Pearson correlation between endpoint degrees over the (doubled,
    * per Newman's convention for undirected graphs) edge list. r > 0:
    * assortative mixing (social-graph shape); r < 0: hub-and-spoke.
    *
    * Scale shape: ONE partial-agg degree rollup, then two equi-joins of
    * the edge list against the node-sized degree frame (AQE broadcasts
    * it), then one moment aggregate — the edge list streams through
    * map-side, never re-shuffles on a new key. Engine-exact: degrees
    * are integers, so the five sufficient sums Σx Σy Σxy Σx² Σy² stay
    * in exact integer arithmetic (degree < 2³¹ keeps products in
    * long range) and both engines run the identical double correlation
    * formula on identical sums; a degree-regular graph (zero variance)
    * yields null via nullif, not NaN. */
  def assortativity(edges: DataFrame): DataFrame = {
    // the doubled edge frame feeds THREE consumers (degree rollup + both
    // endpoint joins): materialize it once — an uncut lineage would
    // replicate the upstream edge mining into every consumer subtree
    val und = symmetricEdges(edges).localCheckpoint(true)
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
    val s = und
      .join(deg.select(col("a"), col("deg").as("dx")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("deg").as("dy")), Seq("b"))
      .agg(count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    val n = col("m2").cast("double")
    val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"),
      col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    s.select((col("m2") / 2).cast("long").as("n_edges"),
      round((n * sxy - sx * sy) /
        nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), lit(0.0)),
        6).as("assortativity"))
  }

  /** Multi-source BFS: min-hop distance from a seed set, bounded depth —
    * the reachability probe behind "how far does influence travel"
    * questions (and the scale-sane alternative to an unbounded closure).
    * Returns the (dist, n_nodes) histogram, seeds at dist 0.
    *
    * Scale shape: classic frontier expansion. Each round is ONE
    * frontier⋈edges join on src (the frontier is guard-broadcast while
    * under the node limit, so only it moves; above the limit a
    * `shuffle_hash` join exchanges both sides) + a left_anti against the
    * settled set to keep only newly reached nodes. The settled frame is
    * multiply-referenced (anti-join now, union later, next rounds) AND
    * loop-carried, so it localCheckpoints per round — the frontier
    * collapses geometrically on small-world graphs, so rounds get
    * cheaper, and depth is a fixed constant (the oracle unrolls the
    * same bound via a depth-capped recursive CTE), so `maxDepth` is a
    * RESULT contract: reaching it is the answer, not an error. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxDepth: Int = 4): DataFrame = {
    val ed = checkpointedEdges(edges)
    val (levels, _) = Loops.frontier(
        seeds.select(col("node")).distinct().withColumn("dist", lit(0)),
        Seq("node"), maxDepth) { (f, depth) =>
      f.join(ed, col("node") === ed("src"))
        .select(col("dst").as("node")).distinct()
        .withColumn("dist", lit(depth))
    }
    levels.reduce(_ unionByName _)
      .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
  }

  /** The static edge list, deduplicated and checkpointed once: every
    * frontier round probes it with a guarded broadcast frontier, so it
    * stays put while the frontier is under the node limit. No
    * partitioning on src is worth paying for first: the checkpoint
    * reads back with `UnknownPartitioning`, so a `shuffle_hash` round
    * above the limit exchanges it either way. */
  private def checkpointedEdges(edges: DataFrame): DataFrame =
    edges.select("src", "dst").distinct().localCheckpoint(true)

  /** Landmark HARMONIC closeness centrality — "which nodes sit nearest
    * to everything" — estimated from `nLandmarks` pivot nodes instead of
    * all-pairs BFS (the standard landmark trick: exact closeness is
    * O(V·E), landmarks cost nLandmarks frontier expansions and rank
    * hubs nearly identically). Harmonic form Σ 1/d — not 1/Σd — so
    * disconnected landmark pairs contribute 0 instead of poisoning the
    * score (no reachability precondition).
    *
    * Scale shape: ONE multi-source BFS carrying the landmark id in the
    * frontier key — state is (node, lm, dist), ≤ V×L rows; each round is
    * the same frontier⋈edges join as [[bfs]] (edge list checkpointed
    * once, probed by the guard-broadcast frontier), and the landmark
    * set is picked by a PORTABLE md5 hash-order (top-L of md5(node)) so
    * the DuckDB oracle selects the identical pivots. Top-k output is
    * TakeOrdered-sized. */
  /** Multi-landmark BFS distances — the shared frontier loop behind
    * [[harmonicCentrality]] and [[diameterEstimate]]: md5-pivoted
    * landmarks, per-round frontier⋈edges on the checkpointed edge
    * frame (only the frontier moves while it is broadcast), settled
    * (node, lm, dist) out. */
  private def landmarkDistances(edges: DataFrame, nLandmarks: Int,
                                maxDepth: Int): DataFrame = {
    val ed = checkpointedEdges(edges)
    val nodes = ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node"))).distinct()
    val lms = nodes
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(nLandmarks)
      .select(col("node"), col("node").as("lm"))
    val (levels, _) = Loops.frontier(lms.withColumn("dist", lit(0)),
        Seq("node", "lm"), maxDepth) { (f, depth) =>
      f.join(ed, col("node") === ed("src"))
        .select(col("dst").as("node"), col("lm")).distinct()
        .withColumn("dist", lit(depth))
    }
    levels.reduce(_ unionByName _)
  }

  def harmonicCentrality(edges: DataFrame, nLandmarks: Int = 8,
                         maxDepth: Int = 6, topK: Int = 20): DataFrame =
    landmarkDistances(edges, nLandmarks, maxDepth)
      .filter(col("dist") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_lm"),
        round(sum(lit(1.0) / col("dist")), 6).as("harmonic"))
      .orderBy(desc("harmonic"), asc("node"))
      .limit(topK)

  /** DIAMETER and EFFECTIVE-DIAMETER estimate from landmark BFS — the
    * "how many hops apart is this graph" number that sizes iterative
    * algorithms (pointer-doubling rounds, BFS depth caps, LPA rounds):
    * the max landmark eccentricity is a LOWER bound on the true
    * diameter (exact all-pairs is O(V·E) — landmarks are the standard
    * estimate), and the 90th-percentile distance (the "effective
    * diameter") is the robust small-world number reported in the graph
    * literature. The percentile is an exact integer rank over the
    * settled (node, lm) distance multiset — distances are small ints,
    * so it collapses to a cumulative count over a depth-sized frame,
    * engine-exact. */
  def diameterEstimate(edges: DataFrame, nLandmarks: Int = 8,
                       maxDepth: Int = 6): DataFrame = {
    val settled = landmarkDistances(edges, nLandmarks, maxDepth)
      .filter(col("dist") > 0)
    val byDist = settled.groupBy("dist").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("dist")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byDist
      .withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(byDist.agg(sum("c").as("tot"))))
      .agg(max("tot").as("reached_pairs"),
        max("dist").as("diameter_lb"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("dist")))
          .as("eff_diameter_90"))
  }

  /** Connected-component size histogram of an edge list — the general
    * graph face of the dedup CC machinery (Dedup.dupClusters: driver
    * union-find under the edge limit, distributed min-label pointer
    * doubling above it; labels are min-node-id either way, matching the
    * oracle's reachability closure). Output is component-count-sized. */
  def components(edges: DataFrame): DataFrame =
    Dedup.dupClusters(edges.select(col("src").as("d1"), col("dst").as("d2")))
      .groupBy(col("cluster_id").as("label"))
      .agg(count(lit(1)).as("n_nodes"))

  /** Synchronous label propagation (community detection), fully
    * deterministic: every node starts labeled with its own id; each
    * round it adopts the MOST FREQUENT label among its neighbors, ties
    * broken by the smallest label (the argmax is a min(struct(-count,
    * label)) — one partial-aggregable expression, no window sort).
    * Fixed rounds, not convergence — sync LPA can 2-cycle on bipartite
    * regions, so a fixpoint test would never fire there; a fixed
    * unrolled depth is also what the SQL oracle can replay exactly.
    *
    * Scale shape mirrors pageRank: the edge frame checkpoints ONCE
    * (every round probes it), each round is edges⋈labels on src (the
    * partitioning Spark reuses round-to-round) into a (dst, label)
    * partial-agg count, then the argmax rollup — per-round shuffle
    * width is the live (node, neighbor-label) pair count, never the
    * raw edge count. The loop itself stays one lazy plan: each round's
    * labels feed exactly one consumer (the next round). */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val ed = edges.select("src", "dst").distinct().localCheckpoint(true)
    val nodes = ed.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    // the label/adopted frames are node-sized: guarded hints (one node
    // count off the checkpoint) so a materializing consumer of this lazy
    // chain plans the same joins as a lazy one (measured at sf0.1:
    // cache()+count of the un-hinted chain 4.9 s vs 0.2 s lazy)
    val nNodes = nodes.count()
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val adopted = ed.join(bcOr(labels, nNodes), ed("src") === labels("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("__n"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
          .getField("l").as("__adopt"))
      // keep-previous on nodes with no in-edges (vacuous on a
      // symmetric graph, load-bearing on a general directed one)
      labels = labels.join(bcOr(adopted, nNodes),
          labels("node") === col("__n"), "left")
        .select(col("node"),
          coalesce(col("__adopt"), col("label")).as("label"))
    }
    // returned LAZY: single-pass consumers (gr_lpa, modularity) run the
    // chain once; the multi-reference consumer (conductance) pins the
    // node-sized result at its entry, which the hints above make cheap.
    labels
  }

  /** Modularity Q of a node partition over a SYMMETRIC edge list
    * (each undirected edge present both ways): Q = Σ_c [ m_c/m −
    * (d_c/2m)² ] — the standard "is this community structure better
    * than chance" score, here computed with the exact-integer
    * discipline: per-community degree and inside-edge counts are
    * longs, the whole score collapses to ONE integer numerator
    * (Σinside·2m − Σd_c²) over (2m)², and the single double division
    * happens once at the end — so the result is bit-identical across
    * engines and partitionings (a float Σ over ~10³ communities could
    * flip the 6th decimal with aggregation order). Two label joins on
    * the edge frame (the labels frame is node-sized; AQE broadcasts it
    * when it fits), one community rollup, one 1-row reduce. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select("src", "dst").distinct()
    val perC = e
      .join(labels.select(col("node").as("__s"), col("label").as("cs")),
        col("src") === col("__s"))
      .join(labels.select(col("node").as("__d"), col("label").as("cd")),
        col("dst") === col("__d"))
      .groupBy("cs")
      .agg(count(lit(1)).as("deg"),
        sum(when(col("cs") === col("cd"), 1L).otherwise(0L)).as("inside"))
    // decimal(38,0) products: the exact-integer numerator can exceed
    // int64 on a 100 TB graph (Σinside·2m ~ (2m)²); both engines carry
    // wide integers exactly (decimal here, hugeint in the oracle), and
    // the one cast-to-double of identical exact integers is IEEE-
    // identical, so the division and round can't flap
    val dec = "decimal(38,0)"
    perC.agg(count(lit(1)).as("n_communities"),
        sum("inside").as("__in"), sum("deg").as("__m2"),
        sum(col("deg") * col("deg")).as("__d2"))
      .select(col("n_communities"),
        round((col("__in").cast(dec) * col("__m2").cast(dec) -
            col("__d2").cast(dec)).cast("double") /
          (col("__m2").cast(dec) * col("__m2").cast(dec)).cast("double"),
          6).as("modularity"))
  }

  /** PER-NODE local clustering coefficient distribution — "is MY
    * neighborhood a clique": lcc(v) = 2·t(v)/(d(v)·(d(v)−1)), reported
    * as the 0.1-wide histogram over nodes with degree ≥ 2 (the only
    * nodes for which the ratio is defined). Complements
    * [[triangleStats]]'s single global transitivity: a graph can have a
    * high global ratio carried by a few dense pockets while most nodes
    * sit at lcc 0 — exactly what this histogram exposes (the shape that
    * decides whether community detection is worth running).
    *
    * Scale shape: triangles enumerate ONCE via [[orientedTriangles]],
    * then each triangle
    * feeds its three corners into a node-keyed partial-agg count —
    * integers end to end; the one double division per node happens on
    * exact longs, so bucket edges are engine-stable. */
  def localClustering(edges: DataFrame): DataFrame = {
    val (_, deg, tris) = orientedTriangles(edges)
    val perNode = tris.select(col("u").as("node"))
      .unionAll(tris.select(col("x").as("node")))
      .unionAll(tris.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("t"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("deg"),
        (lit(2.0) * coalesce(col("t"), lit(0L)) /
          (col("deg") * (col("deg") - 1))).as("lcc"))
      .groupBy(floor(col("lcc") * 10).cast("int").as("lcc_bucket"))
      // in-bucket mean via 6dp-quantized integer sums (each lcc is a
      // deterministic double from exact longs; a float avg would drift
      // with partition order at the 1e-15 level — enough to flap a hash
      // gate; the integer sum cannot)
      .agg(count(lit(1)).as("n_nodes"),
        sum(round(col("lcc") * 1000000).cast("long")).as("__s"))
      .select(col("lcc_bucket"), col("n_nodes"),
        round(col("__s").cast("double") / (col("n_nodes") * 1000000.0), 6)
          .as("avg_lcc"))
  }

  /** RICH-CLUB coefficient ladder — "do the hubs form their own dense
    * club": φ(k) = 2·E_k / (n_k·(n_k−1)) over the subgraph induced by
    * nodes of degree > k, for k on a power-of-two ladder. φ rising
    * toward 1 with k is the hub-oligarchy signal (routing/failure
    * analysis and the reason degree-based partitioning skews);
    * assortativity gives one number, the ladder shows WHERE the club
    * forms.
    *
    * Scale shape: degrees are one partial-agg rollup; the k-ladder is a
    * FIXED ≤ log₂(dmax)-sized literal frame that cross-joins in as a
    * broadcast (constant-factor edge blowup, never data²); n_k and E_k
    * are exact-integer conditional counts; one division per ladder rung
    * at the end. */
  def richClub(edges: DataFrame, maxK: Int = 64): DataFrame = {
    val und = canonicalEdges(edges)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ks = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxK).toSeq
    val ladder = broadcast(und.sparkSession.range(1)
      .select(explode(lit(ks.toArray)).as("k")))
    val nk = deg.crossJoin(ladder)
      .groupBy("k")
      .agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L)).as("n_k"))
    val ek = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .crossJoin(ladder)
      .groupBy("k")
      .agg(sum(when(col("da") > col("k") && col("db") > col("k"), 1L)
        .otherwise(0L)).as("e_k"))
    nk.join(ek, Seq("k"))
      .select(col("k"), col("n_k"), col("e_k"),
        when(col("n_k") >= 2,
          round(lit(2.0) * col("e_k") / (col("n_k") * (col("n_k") - 1)),
            6)).as("phi"))
  }

  /** EDGE EMBEDDEDNESS distribution — per existing edge, the number of
    * common neighbors (= triangles through the edge): the tie-strength
    * classic (embedded edges are strong/redundant ties; embeddedness-0
    * edges are BRIDGES — the links whose loss disconnects information
    * flow). Complements [[localClustering]] (node view) and
    * [[jaccardLinks]] (which scores NON-edges). Output: the
    * embeddedness histogram plus the bridge share riding every row.
    *
    * Scale shape: one pass of [[orientedTriangles]]; each
    * triangle credits its three edges (canonical a<b keys) in one
    * partial-agg rollup; the left join back to the edge list charges
    * untriangled edges zero. Exact integers throughout. */
  def edgeEmbeddedness(edges: DataFrame): DataFrame = {
    val (und, _, tris) = orientedTriangles(edges)
    // each triangle's three edges, re-canonicalized to (a < b)
    val perEdge = tris.select(least(col("u"), col("x")).as("a"),
        greatest(col("u"), col("x")).as("b"))
      .unionAll(tris.select(least(col("u"), col("y")).as("a"),
        greatest(col("u"), col("y")).as("b")))
      .unionAll(tris.select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("emb"))
    val hist = und.join(perEdge, Seq("a", "b"), "left")
      .select(coalesce(col("emb"), lit(0L)).as("emb"))
      .groupBy("emb").agg(count(lit(1)).as("n_edges"))
    hist.crossJoin(broadcast(hist.agg(
        sum("n_edges").as("nt"),
        sum(when(col("emb") === 0, col("n_edges")).otherwise(0L))
          .as("nb"))))
      .select(col("emb").as("embeddedness"), col("n_edges"),
        round(col("nb").cast("double") / col("nt"), 6)
          .as("bridge_share"))
  }

  /** BIPARTITE 4-CYCLE census + Robins–Alexander clustering — the
    * right cohesion metric for two-mode graphs where [[triangleStats]]
    * is structurally zero (customer↔supplier edges admit no odd
    * cycles): squares = Σ over same-side pairs C(cn, 2) (each 4-cycle
    * is one customer pair with 2+ common suppliers), and C₄ =
    * 4·squares / L₃ with L₃ = Σ_edges (deg(u)−1)(deg(v)−1) the
    * 3-path count — "of all paths that COULD close into a square, how
    * many do".
    *
    * Scale shape: candidate same-side pairs come from the wedge join
    * keyed on the shared supplier (only pairs with ≥1 common neighbor
    * materialize — never all-pairs; the hub-degree² caveat and its
    * cap/sample mitigation are [[jaccardLinks]]'s, documented there);
    * the common-count is a partial agg on the pair key; L₃ is one
    * degree join over the edge frame. All counts exact longs. */
  def bipartiteSquares(edges: DataFrame): DataFrame = {
    val und = canonicalEdges(edges)
    val degA = und.groupBy("a").agg(count(lit(1)).as("da"))
    val degB = und.groupBy("b").agg(count(lit(1)).as("db"))
    // same-side (a-side) pairs through a shared b-side neighbor
    val pairs = und.alias("e1")
      .join(und.alias("e2"),
        col("e1.b") === col("e2.b") && col("e1.a") < col("e2.a"))
      .select(col("e1.a").as("x"), col("e2.a").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cn"))
    val sq = pairs.agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(expr("cn * (cn - 1) DIV 2")), lit(0L))
        .as("n_squares"))
    val l3 = und.join(degA, Seq("a")).join(degB, Seq("b"))
      .agg(sum((col("da") - 1) * (col("db") - 1)).as("l3"),
        count(lit(1)).as("n_edges"))
    sq.crossJoin(broadcast(l3))
      .select(col("n_edges"), col("n_pairs"), col("n_squares"),
        col("l3"),
        round(lit(4.0) * col("n_squares") /
          nullif(col("l3").cast("double"), lit(0.0)), 6).as("c4"))
  }

  /** SAMPLED bounded-radius BETWEENNESS (Brandes) — "which nodes do
    * shortest paths FLOW THROUGH", the brokerage metric degree/
    * closeness can't see (a low-degree node bridging two clusters is
    * invisible to both). Exact betweenness is O(V·E) all-pairs; the
    * production estimator is Brandes from a SOURCE SAMPLE with a hop
    * cap — K HASH-ORDERED sources (smallest md5("pivot:"+id), r13: the
    * deterministic-AND-unbiased pivot rule this scaladoc used to only
    * prescribe), BFS depth ≤ `maxDepth` (the harmonicCentrality
    * landmark trade, stated in the contract).
    *
    * ERROR STORY: the output is the RAW K-source dependency sum; the
    * Brandes-Pich (2007) estimator rescales it by n/K and is unbiased
    * with additive error ≤ ε·n(n−1) w.h.p. once K = O(log n / ε²)
    * under uniform pivots. md5 order is a fixed pseudorandom
    * permutation of the ids — independent of the graph's structure and
    * of any adversarial id assignment — so the first K behave as a
    * uniform draw for the Pich bound while staying deterministic (the
    * oracle SQL orders by the same md5 expression and picks identical
    * pivots). Wave12Spec measures it on a planted bridge graph: at
    * K = |V| the operator equals exact serial Brandes; at K = 4 and 8
    * the bridge ranks first and the n/K-rescaled hub estimate lands
    * within the spec's pinned bounds (see the spec for the measured
    * error — hash pivots mix both cliques where the pre-r13
    * smallest-id rule sat entirely in one).
    *
    * Forward pass: level-synchronous multi-source BFS carrying the
    * shortest-path COUNT σ — each round is one frontier⋈edges join on
    * the checkpointed static edge frame + a (source, node)
    * partial-agg σ-sum + one anti-join against settled (in that
    * order — the anti-join filters aggregated rows, r14); state is
    * ≤ V·K rows. Backward pass: Brandes' dependency accumulation per level,
    * δ(v) = Σ_succ (σv/σw)(1+δw) — each TERM quantizes to integer
    * NANO-units before the per-node sum, so the unordered successor
    * sum is exact long arithmetic and every δ walking up the levels is
    * bit-identical on any engine and partitioning (σ is exact by
    * construction). One edge join + rollup per level, each way. */
  def betweennessSampled(edges: DataFrame, nSources: Int = 4,
                         maxDepth: Int = 6): DataFrame = {
    val ed = checkpointedEdges(edges)
    val nodes = ed.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    val sources = nodes
      .orderBy(md5(concat(lit("pivot:"), col("node").cast("string"))),
        col("node"))
      .limit(nSources)
      .select(col("node").as("s"))
    // forward: one frame per BFS level, (s, node, sigma), with its row
    // count, which guards the backward pass's broadcasts for free. σ
    // aggregates BEFORE the settled anti-join (probe-measured 10-12%
    // whole-query at sf0.1): the
    // anti-join then filters the (s, node)-aggregated frame — ≤ frontier
    // width — instead of the full edge fan-out; it drops whole keys, so
    // per-key σ sums don't depend on the order.
    val (levels, levelSizes) = Loops.frontier(
        sources.select(col("s"), col("s").as("node"))
          .withColumn("sigma", lit(1L)),
        Seq("s", "node"), maxDepth) { (f, _) =>
      f.join(ed, col("node") === ed("src"))
        .select(col("s"), col("dst"), col("sigma"))
        .groupBy(col("s"), col("dst").as("node"))
        .agg(sum("sigma").as("sigma"))
    }
    // backward: δ in exact nano-units, deepest level seeds at 0
    var delta = levels.last.select(col("s"), col("node"), lit(0L).as("du"))
    var acc = delta
    for (l <- levels.size - 2 to 0 by -1) {
      val w = levels(l + 1)
        .join(delta, Seq("s", "node"))
        .select(col("s"), col("node").as("w"), col("sigma").as("sw"),
          col("du").as("duw"))
      val v = levels(l)
        .select(col("s"), col("node").as("v"), col("sigma").as("sv"))
      // broadcast the (level, δ) frame: the v⋈ed fan-out is the big
      // intermediate here (≤ K·E rows), and a shuffled (s,w) join
      // would move ALL of it; broadcasting w (one level's K·width
      // rows — the same bounded node-frame class other gr_* operators
      // broadcast) keeps the fan-out in place. Measured (sf0.1,
      // isolated probe): deepest backward rounds 2.31→1.46 s and
      // 1.75→1.26 s; forward-round variants (broadcast settled, fewer
      // shuffle partitions, 2-level fusion) measured within noise and
      // were not kept. Guarded by the level's row count from the
      // forward pass.
      val bcW = bcOr(w, levelSizes(l + 1))
      // v is one level's ≤ K·width rows — broadcast it too, so the
      // backward edge join also leaves the edge frame un-exchanged
      val terms = bcOr(v, levelSizes(l)).join(ed, col("v") === ed("src"))
        .select(col("s"), col("v"), col("sv"), col("dst").as("w"))
        .join(bcW, Seq("s", "w"))
        .groupBy(col("s"), col("v").as("node"))
        .agg(sum(round(col("sv").cast("double") / col("sw") *
          (lit(1.0) + col("duw") / lit(1e9)) * lit(1e9)).cast("long"))
          .as("du"))
      delta = v.select(col("s"), col("v").as("node"))
        .join(terms, Seq("s", "node"), "left")
        .select(col("s"), col("node"),
          coalesce(col("du"), lit(0L)).as("du"))
        .localCheckpoint(true)
      acc = acc.unionByName(delta)
    }
    nodes
      .join(acc.filter(col("s") =!= col("node"))
        .groupBy("node").agg(sum("du").as("du")), Seq("node"), "left")
      // floor convention (Exact.scala): du/1000 exact for integer
      // nano-sums — engine round() at 6dp of a 9dp grid is the half-case
      .select(col("node"),
        (floor(coalesce(col("du"), lit(0L)) / 1000.0 + 0.5) / 1e6)
          .as("betweenness"))
  }

  /** STRONGLY CONNECTED COMPONENTS of a DIRECTED edge list — the
    * directed capability the rest of the graph family lacks
    * ([[components]] answers undirected reachability; SCC answers
    * MUTUAL reachability, the "feedback loop" structure: circular
    * supply relationships, mutually-referring documents, currency
    * arbitrage cycles). FW–BW min-label peeling (Orzan's distributed
    * classic): each pass computes, over the ACTIVE subgraph, the
    * minimum FORWARD-reachable node f(u) and minimum BACKWARD-
    * reachable node b(u) by label relaxation to fixpoint; every node
    * with f(u) = b(u) = c is mutually reachable with c, and all such
    * nodes sharing c form exactly SCC(c) — they peel off with
    * scc_id = c and the pass repeats on the remainder. The globally
    * minimal active node's SCC always classifies (its f and b are
    * both itself), so every pass strictly shrinks the graph.
    *
    * Scale shape: relaxation is the pageRank join pattern — labels ⋈
    * edges into a (dst, min) partial agg, per-round localCheckpoint
    * (the Graph.scala loop discipline); a relaxation has settled when
    * its Σm repeats (labels only decrease), and the pass probes are
    * node-sized counts on a shrinking frame. Rounds = active-subgraph
    * diameter per pass, passes = 1 + (SCCs whose forward-min and
    * backward-min disagree) — bounded by `maxRounds` and `maxPasses`
    * with a hard IllegalStateException rather than a silently partial
    * answer.
    * Output: (scc_id, n_nodes) — scc_id is the component's minimum
    * node id, matching the SQL oracle's closure definition
    * scc(u) = min{v : u→*v ∧ v→*u}. */
  def stronglyConnectedComponents(edges: DataFrame, maxPasses: Int = 30,
                                  maxRounds: Int = 60): DataFrame = {
    val ed0 = edges.select("src", "dst")
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    // every hinted frame below (label probes, pulled mins, classified
    // set) is bounded by the ACTIVE node count, re-measured per pass by
    // the checkpoint's own job (the active set shrinks as SCCs peel off)
    var (active, nActive) = Loops.checkpointCounted(
      ed0.select(col("src").as("node"))
        .unionByName(ed0.select(col("dst").as("node"))).distinct())
    var ed = ed0
    val results = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var pass = 0
    def bc(df: DataFrame): DataFrame = bcOr(df, nActive)
    while (nActive > 0 && pass < maxPasses) {
      pass += 1
      // min-label relaxation to fixpoint; rev=false propagates labels
      // AGAINST edge direction so f(u) = min over reach(u) (u's label
      // absorbs its out-neighbors' labels), rev=true the reverse
      def minReach(reverse: Boolean): DataFrame = {
        val e = if (reverse)
          ed.select(col("dst").as("from"), col("src").as("to"))
        else ed.select(col("src").as("from"), col("dst").as("to"))
        val (lab, settled) = Loops.fixpoint(
            active.withColumn("m", col("node")).localCheckpoint(true),
            maxRounds)(Loops.decimalSum(_, "m")) { lab =>
          val pulled = e.join(bc(lab.select(col("node").as("to"),
              col("m").as("mt"))), Seq("to"))
            .groupBy(col("from").as("node")).agg(min("mt").as("mp"))
          lab.join(bc(pulled), Seq("node"), "left")
            .select(col("node"),
              least(col("m"), coalesce(col("mp"), col("m"))).as("m"))
        }
        if (!settled) throw new IllegalStateException(
          s"SCC relaxation did not settle in $maxRounds rounds")
        lab
      }
      val f = minReach(reverse = false)
      val b = minReach(reverse = true)
        .select(col("node"), col("m").as("mb"))
      val classified = f.join(b, Seq("node"))
        .filter(col("m") === col("mb"))
        .select(col("node"), col("m").as("scc_id"))
        .localCheckpoint(true)
      results += classified
      val (rest, nRest) = Loops.checkpointCounted(active.join(
        bc(classified.select("node")), Seq("node"), "left_anti"))
      active = rest
      ed = ed.join(bc(classified.select(col("node").as("src"))),
          Seq("src"), "left_anti")
        .join(bc(classified.select(col("node").as("dst"))),
          Seq("dst"), "left_anti")
        .localCheckpoint(true)
      nActive = nRest
    }
    if (nActive > 0) throw new IllegalStateException(
      s"SCC peeling did not finish in $maxPasses passes")
    results.reduce(_ unionByName _)
      .groupBy("scc_id").agg(count(lit(1)).as("n_nodes"))
  }

  /** MINIMUM SPANNING FOREST (Borůvka) of a weighted undirected edge
    * list — the distributed-native MST ([[components]] says WHAT is
    * connected; the MSF says the CHEAPEST way to keep it connected:
    * network backbone design, single-linkage clustering's dual,
    * weighted-graph sparsification): per round every component picks
    * its minimum outgoing edge under the TOTAL order (w, src, dst) —
    * distinct composite weights make the forest unique, so the result
    * is deterministic and spec-checkable against serial Kruskal —
    * selected edges contract via the shared connected-components
    * machinery, and components halve (or better) per round:
    * ⌈log₂ n⌉ rounds, each one labels⋈edges join + a component-sized
    * rollup. Not SQL-expressible (union-find state) → rows-only
    * surface; the brute-force Kruskal twin lives in the spec. */
  def minimumSpanningForest(edges: DataFrame, maxRounds: Int = 40)
      : DataFrame = {
    // canonical undirected edges with a strict total order on weight
    val canon = edges
      .select(least(col("src"), col("dst")).as("s"),
        greatest(col("src"), col("dst")).as("t"), col("w"))
      .filter(col("s") =!= col("t"))
      .groupBy("s", "t").agg(min("w").as("w"))
      .localCheckpoint(true)
    val sym = canon.select(col("s").as("u"), col("t").as("v"), col("s"),
        col("t"), col("w"))
      .unionByName(canon.select(col("t").as("u"), col("s").as("v"),
        col("s"), col("t"), col("w")))
      .localCheckpoint(true)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("comp", col("node")).localCheckpoint(true)
    // label probes and the relabel map are node-sized (the node set is
    // constant across rounds — only the comp column changes): one count
    // off the checkpoint guards them all
    val nNodes = labels.count()
    def bc(df: DataFrame): DataFrame = bcOr(df, nNodes)
    var picked = canon.filter(lit(false)).select("s", "t", "w")
    var round = 0
    var remaining = 1L
    while (remaining > 0 && round < maxRounds) {
      round += 1
      val lab = labels
      val crossing = sym
        .join(bc(lab.select(col("node").as("u"), col("comp").as("cu"))),
          Seq("u"))
        .join(bc(lab.select(col("node").as("v"), col("comp").as("cv"))),
          Seq("v"))
        .filter(col("cu") =!= col("cv"))
      // r16 PROBED AND REJECTED — driver-Kruskal tail collapse: once
      // components are few, the component-contracted crossing graph
      // (min edge per component pair) fits the driver and one Kruskal
      // pass over it is the remaining MSF (strict (w, s, t) total
      // order ⇒ unique forest). Implemented, verified result-identical
      // (15998 rows collect-compared), and MEASURED SLOWER at sf0.1:
      // 4.2-4.9 s vs 2.9-3.5 s warm. Cause: the CC contraction below
      // merges chosen-edge CHAINS, so the loop already converges in 3
      // rounds here (component census 15999 → 25 → 0) — the collapse
      // can skip at most ~1 round while its per-round pair-census
      // probe costs a full crossing pass. Reverted; the 3-round shape
      // stands.
      // min outgoing edge per component under the (w, s, t) total order
      val (chosen, nChosen) = Loops.checkpointCounted(crossing.groupBy("cu")
        .agg(min(struct(col("w"), col("s"), col("t"), col("cv")))
          .as("e"))
        .select(col("e.w").as("w"), col("e.s").as("s"),
          col("e.t").as("t"), col("cu"), col("e.cv").as("cv")))
      remaining = nChosen
      if (remaining > 0) {
        // picked is only CONSUMED once, at return: keep it a lazy
        // union of the already-checkpointed per-round chosen frames
        // and dedup ONCE at the end (r14) — the r13 shape re-ran
        // distinct + localCheckpoint on the growing union every round,
        // ~log n extra shuffles+materializations for a frame nobody
        // reads mid-loop. Probe-measured NEUTRAL at sf0.1 (warm runs
        // 2.4-2.9 s both shapes, result-identical — the per-round
        // frame is forest-sized and local), kept for the scale shape:
        // the removed shuffles grow with the forest, the remaining
        // work doesn't. The final distinct still collapses the
        // within-round duplicate (both endpoint components choosing
        // the same crossing edge).
        picked = picked.unionByName(chosen.select("s", "t", "w"))
        // contract: components joined by chosen edges take the minimum
        // component label of their group (shared CC machinery). r15:
        // `chosen` is already checkpointed AND counted (`remaining`),
        // so under the dupClusters driver-edge limit the union-find
        // runs on ONE direct collect instead of dupClusters' fast path
        // re-paying a counted checkpoint of the pair list per round
        // (probe-measured, OPTIMIZATION_r15.md); above the limit the
        // distributed CC machinery takes over unchanged.
        val merged =
          if (remaining <= 2000000L) {
            val spark = chosen.sparkSession
            import spark.implicits._
            val es = chosen
              .select(col("cu").cast("long"), col("cv").cast("long"))
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            Dedup.unionFindLabels(es).toDF("doc_id", "cluster_id")
          } else Dedup.dupClusters(
            chosen.select(col("cu").as("d1"), col("cv").as("d2")))
        // component-count-sized relabel map → same guarded hint as the
        // probes above (component count ≤ node count)
        labels = lab.join(bc(merged.select(col("doc_id").as("comp"),
            col("cluster_id"))), Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("cluster_id"), col("comp")).as("comp"))
          .localCheckpoint(true)
      }
    }
    if (remaining > 0) throw new IllegalStateException(
      s"Borůvka did not converge in $maxRounds rounds")
    picked.distinct()
      .select(col("s").as("src"), col("t").as("dst"), col("w"))
  }

  /** PERCOLATION CURVE of a weighted undirected graph — connectivity
    * as a function of tie strength (keep only edges with weight ≥ τ
    * and watch the giant component: the robustness question behind
    * "how many weak ties hold this network together", and the
    * threshold-picking tool for every similarity-graph clustering in
    * the dedup family): per τ in the ladder, surviving node/edge
    * counts, component count, and the giant component's node share.
    *
    * One weighted edge frame, reused per rung (the ladder is a
    * bounded literal); components via the shared CC machinery
    * (driver union-find fast path under the measured edge limit,
    * distributed pointer doubling above it — dupClusters' contract).
    * Output is ladder-bounded. */
  def percolationCurve(wedges: DataFrame,
                       thresholds: Seq[Long] = Seq(1L, 2L, 3L, 4L))
      : DataFrame = {
    // r15 ADVICE hardening: an empty ladder would hand
    // newFixedThreadPool(0) an IllegalArgumentException (and the final
    // reduce has no identity) — fail loud with the contract instead
    require(thresholds.nonEmpty, "percolationCurve: empty threshold ladder")
    val canon = wedges
      .select(least(col("src"), col("dst")).as("s"),
        greatest(col("src"), col("dst")).as("t"), col("w"))
      .filter(col("s") =!= col("t"))
      .groupBy("s", "t").agg(max("w").as("w"))
      .localCheckpoint(true)
    // rungs are INDEPENDENT jobs over the same checkpointed edge frame
    // (each dupClusters call does eager work: a counted checkpoint and
    // a collect / CC rounds) — overlap them on a small pool (guide §2.6) so one
    // rung's driver-side tail back-fills the others' idle executors.
    // Results are per-rung deterministic, assembled in ladder order.
    // Probe-measured at sf0.1 (isolated): 6.1 s sequential → see
    // OPTIMIZATION_r15.md. Daemon threads (r15 ADVICE): a wedged rung
    // must not pin the JVM open after the driver gives up on it.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thresholds.size, 3),
      (r: Runnable) => {
        val th = new Thread(r, "percolation-rung")
        th.setDaemon(true)
        th
      })
    implicit val ec =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rungs =
      try {
        thresholds.map { tau =>
          scala.concurrent.Future {
            val e = canon.filter(col("w") >= tau)
            val comps = Dedup.dupClusters(
              e.select(col("s").as("d1"), col("t").as("d2")))
            comps.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
              .agg(coalesce(sum("sz"), lit(0L)).as("n_nodes"),
                count(lit(1)).as("n_components"),
                coalesce(max("sz"), lit(0L)).as("giant"))
              .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
              .select(lit(tau).as("tau"), col("n_nodes"), col("n_edges"),
                col("n_components"),
                round(col("giant") / nullif(col("n_nodes").cast("double"),
                  lit(0.0)), 6).as("giant_share"))
          }
        }.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    rungs.reduce(_ unionByName _)
  }
}
