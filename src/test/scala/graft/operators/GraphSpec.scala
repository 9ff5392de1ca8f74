package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("pageRank: hub outranks leaves, mass is conserved on undirected graphs") {
    // star: 1 is the hub of 2,3,4 (undirected)
    val ranks = Graph.pageRank(undirected((1L, 2L), (1L, 3L), (1L, 4L)))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank"))
      .toMap
    assert(ranks.size == 4)
    assert(ranks(1L) > ranks(2L))
    assert(ranks(2L) == ranks(3L) && ranks(3L) == ranks(4L),
      "symmetric leaves must tie exactly")
    // no dangling nodes (every node has out-edges) -> total rank stays 1
    assert(math.abs(ranks.values.sum - 1.0) < 1e-5)
  }

  test("pageRank on a symmetric cycle is exactly uniform") {
    val ranks = Graph.pageRank(undirected((1L, 2L), (2L, 3L), (3L, 1L)))
      .collect().map(_.getAs[Double]("rank")).toSet
    assert(ranks.size == 1, s"cycle nodes must all tie, got $ranks")
  }

  test("katzCentrality: hand-computed 2-cycle; hub beats leaves on the star") {
    // 2-cycle 1<->2 at alpha=0.5, beta=1, 2 rounds: x1 = 1.5,
    // x2 = 1 + 0.5*1.5 = 1.75 — exact, both nodes symmetric
    val two = Graph.katzCentrality(undirected((1L, 2L)),
      iterations = 2, alpha = 0.5)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("katz"))
      .toMap
    assert(two == Map(1L -> 1.75, 2L -> 1.75), s"$two")
    // star: the hub hears every leaf each round
    val star = Graph.katzCentrality(
      undirected((1L, 2L), (1L, 3L), (1L, 4L)))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("katz"))
      .toMap
    assert(star(1L) > star(2L), s"$star")
    assert(star(2L) == star(3L) && star(3L) == star(4L),
      "symmetric leaves must tie exactly")
  }

  test("components labels islands by min node id with exact sizes") {
    val comps = Graph.components(
      undirected((1L, 2L), (2L, 3L), (10L, 11L)))
      .collect().map(r => r.getAs[Long]("label") -> r.getAs[Long]("n_nodes"))
      .toMap
    assert(comps == Map(1L -> 3L, 10L -> 2L))
  }

  test("triangleStats: square with one diagonal, hand-computed census") {
    // nodes 1-4, edges 12 23 34 14 13: triangles {1,2,3} {1,3,4};
    // degrees 1:3 2:2 3:3 4:2 -> wedges 3+1+3+1 = 8; coeff 6/8
    val r = Graph.triangleStats(
      undirected((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)))
      .collect().head
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Long]("n_wedges") == 8L)
    assert(r.getAs[Long]("n_triangles") == 2L)
    assert(r.getAs[Double]("clustering_coeff") == 0.75)
  }

  test("triangleStats: a star is triangle-free, a hub stays exact") {
    val r = Graph.triangleStats(
      undirected((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
      .collect().head
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Long]("n_wedges") == 6L, "C(4,2) hub wedges")
  }

  test("jaccardLinks scores only non-adjacent pairs, exact overlap") {
    // square + diagonal 13: the only non-adjacent pair is (2,4) with
    // common neighbors {1,3}: jaccard = 2 / (2 + 2 - 2) = 1.0
    val links = Graph.jaccardLinks(
      undirected((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)))
      .collect()
    assert(links.length == 1)
    val r = links.head
    assert((r.getAs[Long]("x"), r.getAs[Long]("y")) == (2L, 4L))
    assert(r.getAs[Long]("common") == 2L)
    assert(r.getAs[Double]("jaccard") == 1.0)
  }

  test("kCore peels a pendant chain, keeps the clique, exact core degrees") {
    // triangle {1,2,3} + chain 3-4-5: for k=2, peeling drops 5 (deg 1)
    // then 4 (deg 1 after 5 leaves); the triangle survives with every
    // core degree exactly 2
    val g = undirected((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val core2 = Graph.kCore(g, k = 2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3 dissolves the triangle entirely (no node can keep 3 neighbors)
    assert(Graph.kCore(g, k = 3).isEmpty)
    // a 4-clique is its own 3-core, untouched by peeling
    val k4 = undirected((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L))
    val core3 = Graph.kCore(k4, k = 3).collect()
    assert(core3.length == 4 && core3.forall(_.getAs[Long]("core_deg") == 3L))
  }

  test("assortativity: star is -1, regular graph is null (zero variance)") {
    // K1,4 star: every edge joins deg-4 hub to a deg-1 leaf — perfect
    // disassortativity, r = -1 exactly
    val star = undirected((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val r = Graph.assortativity(star).collect()(0)
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(math.abs(r.getAs[Double]("assortativity") - (-1.0)) < 1e-9)
    // 4-cycle: all degrees equal → zero degree variance → null, not NaN
    val cyc = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val rc = Graph.assortativity(cyc).collect()(0)
    assert(rc.getAs[Long]("n_edges") == 4L && rc.isNullAt(rc.fieldIndex("assortativity")))
  }

  test("coreness: path is all 1s, clique is k−1, pendant chain peels below the core") {
    def hist(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Int]("coreness") -> r.getAs[Long]("n_nodes")).toMap
    // path 1-2-3-4: every node coreness 1
    val path = undirected((1L, 2L), (2L, 3L), (3L, 4L))
    assert(hist(Graph.coreness(path)) == Map(1 -> 4L))
    // K4 clique: all coreness 3
    val k4 = undirected((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L))
    assert(hist(Graph.coreness(k4)) == Map(3 -> 4L))
    // K4 + pendant chain 4-5-6: chain nodes peel at level 2 (coreness 1)
    val mixed = undirected((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(hist(Graph.coreness(mixed)) == Map(1 -> 2L, 3 -> 4L))
    // consistency with the fixed-k membership: kCore(k) nodes are
    // exactly those with coreness >= k
    val k2members = Graph.kCore(mixed, 2).collect().map(_.getLong(0)).toSet
    assert(k2members == Set(1L, 2L, 3L, 4L))
  }

  test("localClustering: K4+pendant hand-computed buckets") {
    // K4 (1,2,3,4) + chain 4-5-6. Degrees: 1,2,3→3; 4→4; 5→2; 6→1.
    // Triangles: the 4 K4 faces; t(1..3)=3, t(4)=3, t(5)=0, 6 excluded
    // (deg<2). lcc: 1,2,3 → 2·3/(3·2)=1.0 (bucket 10); 4 → 2·3/(4·3)=0.5
    // (bucket 5); 5 → 0 (bucket 0).
    val mixed = undirected((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
    val out = Graph.localClustering(mixed).collect()
      .map(r => r.getAs[Int]("lcc_bucket") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Double]("avg_lcc"))).toMap
    assert(out == Map(10 -> (3L, 1.0), 5 -> (1L, 0.5), 0 -> (1L, 0.0)))
  }

  test("richClub: K4 is a perfect club below its degree, empty above") {
    val k4 = undirected((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L))
    val rows = Graph.richClub(k4).collect()
      .map(r => r.getAs[Int]("k") ->
        (r.getAs[Long]("n_k"), r.getAs[Long]("e_k"),
          Option(r.getAs[Any]("phi")))).toMap
    // all degrees 3: k=1,2 keep all 4 nodes and all 6 edges → φ=1
    assert(rows(1) == ((4L, 6L, Some(1.0))))
    assert(rows(2) == ((4L, 6L, Some(1.0))))
    // k=4: nobody has degree > 4 → empty club, φ undefined (null)
    assert(rows(4) == ((0L, 0L, None)))
    assert(rows.keySet == Set(1, 2, 4, 8, 16, 32, 64))
  }

  test("coreness survives a 10^5-degree hub (counting form, no per-node array)") {
    // A star with 100k leaves: the old sort_array(collect_list(...))
    // H-index materialized one 10^5-element row for the hub — the
    // straggler/OOM shape a skewed 100 TB graph hits. The counting form
    // collapses the hub to ≤ #distinct-c histogram rows (here: 1).
    // Exact answer: a star is a 1-core — every node coreness 1.
    val leaves = spark.range(1, 100001).select(
      lit(0L).as("src"), $"id".as("dst"))
    val star = leaves.union(leaves.select($"dst".as("src"), $"src".as("dst")))
    val hist = Graph.coreness(star).collect()
      .map(r => r.getAs[Int]("coreness") -> r.getAs[Long]("n_nodes")).toMap
    assert(hist == Map(1 -> 100001L))
  }

  test("harmonicCentrality: exact on a path graph when landmarks = all nodes") {
    // path 1-2-3-4-5: with every node a landmark, the estimate IS the
    // exact harmonic centrality; the middle node must win
    val path = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val out = Graph.harmonicCentrality(path, nLandmarks = 5,
      maxDepth = 6, topK = 5).collect()
    val h = out.map(r => r.getAs[Long]("node") ->
      r.getAs[Double]("harmonic")).toMap
    // node 3: d = 2,1,1,2 → 1/2+1+1+1/2 = 3.0; node 1: 1+1/2+1/3+1/4
    assert(math.abs(h(3L) - 3.0) < 1e-6)
    assert(math.abs(h(1L) - (1.0 + 0.5 + 1.0 / 3 + 0.25)) < 1e-6)
    assert(h(1L) == h(5L) && h(2L) == h(4L), "symmetry")
    assert(out.head.getAs[Long]("node") == 3L, "center must rank first")
    out.foreach(r => assert(r.getAs[Long]("n_lm") == 4L,
      "every node sees the 4 OTHER landmarks on a connected path"))
    // disconnected island: unreachable landmark pairs contribute 0,
    // never poison the score (the harmonic-vs-closeness point)
    val twoIslands = undirected((1L, 2L), (10L, 11L))
    val h2 = Graph.harmonicCentrality(twoIslands, nLandmarks = 4,
      maxDepth = 6, topK = 4).collect()
    assert(h2.length == 4)
    h2.foreach(r => assert(r.getAs[Double]("harmonic") == 1.0 &&
      r.getAs[Long]("n_lm") == 1L))
  }

  test("bfs: min-hop histogram on a path graph, depth cap respected") {
    // path 1-2-3-4-5-6-7, seed {1}: dists 0,1,2,3,4 then the cap stops
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L))
    val seeds = Seq(1L).toDF("node")
    val out = Graph.bfs(edges, seeds, maxDepth = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 1L))
  }

  test("bfs: a node reachable two ways gets the SHORTER distance") {
    // triangle 1-2-3 plus chain 3-4; seeds {1}: 3 is at dist 1 (via
    // edge 1-3), never 2 (via 1-2-3); 4 at dist 2
    val edges = undirected((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val out = Graph.bfs(edges, Seq(1L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(0 -> 1L, 1 -> 2L, 2 -> 1L))
  }

  test("bfs: multi-seed frontiers merge, seeds never re-labelled") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val out = Graph.bfs(edges, Seq(1L, 5L).toDF("node"), maxDepth = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 1,5 seeds; 2,4 at dist 1; 3 at dist 2 from either side
    assert(out == Map(0 -> 2L, 1 -> 2L, 2 -> 1L))
  }

  test("labelPropagation: communities converge to their min id; ties take the smaller label") {
    // two DISJOINT triangles: by round 3 each has flooded its min id
    // (round 1 spreads it or resolves ties toward it, rounds 2-3
    // finish the stragglers); the components never share a label
    val edges = undirected(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val out = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(out) == Set(1L),
      s"left triangle must all carry label 1: $out")
    assert(Set(4L, 5L, 6L).map(out) == Set(4L),
      s"right triangle must all carry label 4: $out")
  }

  test("labelPropagation: a node with no in-edges keeps its previous label") {
    import spark.implicits._
    // directed: 1 → 2 only. Node 1 never receives a message; the
    // keep-previous coalesce must retain its own id, not drop the row
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = Graph.labelPropagation(edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L)
  }

  test("modularity: perfect two-community split scores 0.5; one blob scores 0") {
    import spark.implicits._
    val edges = undirected(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val perfect = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "label")
    val r = Graph.modularity(edges, perfect).collect().head
    // two equal communities, all edges internal: Q = 2·(1/2 − 1/4)
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Double]("modularity") == 0.5)
    val blob = perfect.select(col("node"), lit(1L).as("label"))
    val r2 = Graph.modularity(edges, blob).collect().head
    assert(r2.getAs[Double]("modularity") == 0.0,
      "a single community is never better than chance")
  }

  test("degreeHistogram counts nodes per degree, dedup included") {
    val edges = undirected((1L, 2L), (1L, 3L))
      .unionByName(Seq((1L, 2L)).toDF("src", "dst")) // duplicate edge
    val h = Graph.degreeHistogram(edges).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_nodes")).toMap
    // node 1 has degree 2; nodes 2 and 3 degree 1 (dup edge not recounted)
    assert(h == Map(2L -> 1L, 1L -> 2L))
  }

  test("powerLawFit: hand-computed Hill alpha on a star; duplicate edges ignored") {
    // star: hub 1 ↔ spokes 2..6 — only the hub (degree 5) reaches the
    // d_min=2 tail, so α = 1 + 1/ln(5/1.5) exactly
    val star = undirected((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L))
    val dup = star.unionByName(Seq((1L, 2L)).toDF("src", "dst"))
    val r = Graph.powerLawFit(dup).collect().head
    assert(r.getAs[Long]("n_tail") == 1L && r.getAs[Long]("d_max") == 5L)
    val expected = 1.0 + 1.0 / math.log(5.0 / 1.5)
    assert(math.abs(r.getAs[Double]("alpha") - expected) < 1e-6, s"$r")
    // lighter tail → steeper fit: a path's tail sits at degree 2, so
    // its alpha (1 + 1/ln(2/1.5) ≈ 4.48) must exceed the star's hub fit
    val path = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val rp = Graph.powerLawFit(path).collect().head
    assert(math.abs(rp.getAs[Double]("alpha") -
      (1.0 + 1.0 / math.log(2.0 / 1.5))) < 1e-6, s"$rp")
    assert(rp.getAs[Double]("alpha") > r.getAs[Double]("alpha"),
      s"degree-2 tail must fit steeper than the degree-5 hub: $rp vs $r")
  }

  test("conductance: bridged triangles score 1/7 each; merged labels score 0") {
    import spark.implicits._
    val g = undirected((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val twoLabels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "label")
    val out = Graph.conductance(g, twoLabels).collect()
      .map(r => r.getAs[Long]("community") ->
        ((r.getAs[Long]("vol"), r.getAs[Long]("cut"),
          r.getAs[Double]("conductance")))).toMap
    // each triangle: vol 7 (one member touches the bridge), cut 1
    assert(out == Map(
      1L -> ((7L, 1L, math.floor(1.0 / 7 * 1e6 + 0.5) / 1e6)),
      4L -> ((7L, 1L, math.floor(1.0 / 7 * 1e6 + 0.5) / 1e6))), s"$out")
    // everything in ONE community: no escaping edges, denominator 0 →
    // null-guarded, not 0/0
    val one = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("node", "label")
    val whole = Graph.conductance(g, one).collect().head
    assert(whole.getAs[Long]("cut") == 0L && whole.isNullAt(3), s"$whole")
    // the 2m = |e| identity conductance's denominator rides on (r14
    // ADVICE): with TOTAL labels, Σ_c vol_c must equal the distinct
    // edge count — i.e. every endpoint labeled exactly once, the
    // documented precondition. Pin it on the two-community case.
    assert(out.values.map(_._1).sum == 2L * 7L, s"vol sum: $out")
    // and 2·|distinct edges| = 14 (7 undirected edges both ways)
    assert(g.select("src", "dst").distinct().count() == 14L)
  }

  test("reciprocity: mutual pair counts both directions, one-way edge counts none") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L)) // dup ignored
      .toDF("src", "dst")
    val r = Graph.reciprocity(e).collect().head
    assert(r.getAs[Long]("n_edges") == 3L &&
      r.getAs[Long]("n_mutual") == 2L, s"$r")
    assert(math.abs(r.getAs[Double]("reciprocity") - 2.0 / 3) < 1e-6)
  }

  test("diameterEstimate: path graph has known eccentricities and 90% distance") {
    // path 1-2-3-4-5, ≤8 nodes → every node is a landmark: distance
    // multiset is exact (8×d1, 6×d2, 4×d3, 2×d4) → diameter 4, and the
    // 90th percentile rank (18 of 20) lands on distance 3
    val path = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val r = Graph.diameterEstimate(path).collect().head
    assert(r.getAs[Long]("reached_pairs") == 20L, s"$r")
    assert(r.getAs[Int]("diameter_lb") == 4, s"$r")
    assert(r.getAs[Int]("eff_diameter_90") == 3, s"$r")
  }

  test("randomWalks: every hop is an edge, walks replay exactly, branches diverge") {
    import spark.implicits._
    // complete bipartite {1,2,3}×{10,11,12}, symmetrized
    val pairs = for { a <- 1L to 3L; b <- 10L to 12L } yield (a, b)
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val walks = Graph.randomWalks(edges, steps = 3).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("n1"),
        r.getAs[Long]("n2"), r.getAs[Long]("n3")))
    assert(walks.length == 6, "one walk per node")
    val edgeSet = (pairs ++ pairs.map(_.swap)).toSet
    walks.foreach { case (s, a, b, c) =>
      assert(edgeSet((s, a)) && edgeSet((a, b)) && edgeSet((b, c)),
        s"every hop must follow a real edge: ($s,$a,$b,$c)")
    }
    // hash-derived choices must not collapse to one branch everywhere
    assert(walks.map(_._2).distinct.length > 1,
      "different nodes take different first hops")
    val again = Graph.randomWalks(edges, steps = 3).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("n1"),
        r.getAs[Long]("n2"), r.getAs[Long]("n3"))).toSet
    assert(again == walks.toSet, "walks must replay bit-identically")
  }

  test("hits: hand-unrolled 3-iteration scores on a tiny bipartite graph") {
    import spark.implicits._
    // c1→{s1,s2}, c2→s1. Unrolled with max-normalization per step:
    // a3 = (s1: 1, s2: 0.615385), h3 = (c1: 1, c2: 0.619048)
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val out = Graph.hits(edges, iterations = 3).collect()
      .map(r => (r.getAs[String]("role"), r.getAs[Long]("node")) ->
        r.getAs[Double]("score")).toMap
    assert(out(("hub", 1L)) == 1.0)
    assert(out(("hub", 2L)) == 0.619048)
    assert(out(("authority", 10L)) == 1.0)
    assert(out(("authority", 11L)) == 0.615385)
    // determinism: fixed iterations + max-normalization replay exactly
    assert(Graph.hits(edges, iterations = 3).collect()
      .map(r => (r.getAs[String]("role"), r.getAs[Long]("node")) ->
        r.getAs[Double]("score")).toMap == out)
  }

  test("eigenvectorCentrality: star hub scores 1, leaves 0.25; path is symmetric") {
    // star K1,4 from all-ones: x5 = (center 64, leaf 16) → 1.0 / 0.25
    val star = Graph.eigenvectorCentrality(
      undirected((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("eig"))
      .toMap
    assert(star(1L) == 1.0)
    assert(Seq(2L, 3L, 4L, 5L).forall(star(_) == 0.25))
    // path a-b-c: ends stay symmetric, middle is the max
    val path = Graph.eigenvectorCentrality(undirected((1L, 2L), (2L, 3L)))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("eig"))
      .toMap
    assert(path(2L) == 1.0 && path(1L) == path(3L) && path(1L) == 0.5)
  }

  test("personalizedPageRank: degenerates to pageRank when seeds cover the graph; decays off-seed") {
    // 4-node graph: the 4 smallest ids ARE all nodes → uniform seed
    // mass ≡ the global teleport → PPR must equal PageRank exactly
    val sq = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val ppr = Graph.personalizedPageRank(sq).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("ppr")).toMap
    val pr = Graph.pageRank(sq).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(ppr == pr, s"$ppr vs $pr")
    // star with off-seed leaves: mass decays away from the seed set,
    // and symmetric non-seeds tie exactly
    val star = Graph.personalizedPageRank(undirected(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L))).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("ppr")).toMap
    assert(star(5L) == star(6L), "symmetric non-seed leaves must tie")
    assert(star(5L) < star(2L), "off-seed mass must trail seed mass")
    assert(star(1L) > star(2L), "the hub adjacent to every seed leads")
  }

  test("adamicAdarLinks: rare shared neighbor outranks a shared hub") {
    // 1,2 share rare 5 (deg 2) AND hub 3; 1,4 / 2,4 share only hub 3
    val g = undirected((3L, 1L), (3L, 2L), (3L, 4L), (5L, 1L), (5L, 2L))
    val out = Graph.adamicAdarLinks(g).collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y")) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("aa_score")))
    // top pair is (3,5): they share BOTH degree-2 nodes → 2/ln(2);
    // (1,2) shares rare 5 and hub 3 → 1/ln(3)+1/ln(2); hub-only pairs
    // like (1,4) trail with 1/ln(3)
    val top = out.head
    assert(top._1 == ((3L, 5L)) && top._2._1 == 2L)
    def q(x: Double) = math.rint(1e9 / math.log(x))
    def r6(u: Double) = BigDecimal(u).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(top._2._2 == r6(2 * q(2) / 1e9))
    val m = out.toMap
    val pair12 = m((1L, 2L))
    assert(pair12 == ((2L, r6((q(3) + q(2)) / 1e9))))
    val hubOnly = m((1L, 4L))
    assert(hubOnly == ((1L, r6(q(3) / 1e9))))
    assert(hubOnly._2 < pair12._2 && pair12._2 < top._2._2,
      "rare shared neighbors must outrank hub-only sharing")
  }

  test("bipartiteSquares: complete K2,3 scores C4=1; missing edge lowers it") {
    // K2,3: customers 1,2 × suppliers 11,12,13 — the pair (1,2) shares
    // 3 suppliers → C(3,2)=3 squares; L3 = 6 edges · (2-1)(3-1)... each
    // edge contributes (dc-1)(ds-1) = 2·1 = 2 → 12; C4 = 4·3/12 = 1
    val k23 = undirected((1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 11L), (2L, 12L), (2L, 13L))
    val full = Graph.bipartiteSquares(k23).collect().head
    assert(full.getAs[Long]("n_squares") == 3L &&
      full.getAs[Long]("l3") == 12L &&
      full.getAs[Double]("c4") == 1.0)
    // drop one edge: squares fall to C(2,2)=1 and C4 < 1
    val chipped = Graph.bipartiteSquares(undirected((1L, 11L), (1L, 12L),
      (1L, 13L), (2L, 11L), (2L, 12L))).collect().head
    assert(chipped.getAs[Long]("n_squares") == 1L &&
      chipped.getAs[Double]("c4") < 1.0)
    // a star has no same-side pair at all: zero squares, null-safe
    val star = Graph.bipartiteSquares(
      undirected((1L, 11L), (1L, 12L), (1L, 13L))).collect().head
    assert(star.getAs[Long]("n_squares") == 0L)
  }

  test("betweennessSampled: hand-computed Brandes on path and star") {
    // path 1-2-3, all 3 nodes are sources: only the middle carries
    // flow — δ from each end source is 1, so b(2) = 2 (ordered-pair
    // source sum, as documented), ends 0
    val path = Graph.betweennessSampled(undirected((1L, 2L), (2L, 3L)))
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Double]("betweenness")).toMap
    assert(path(2L) == 2.0 && path(1L) == 0.0 && path(3L) == 0.0)
    // star: center 1, leaves 2..5; sources = 4 smallest = {1,2,3,4}.
    // From each leaf source the center accumulates δ = 3 (three
    // leaves behind it); from the center source it is the source
    // itself (excluded) → center 9, leaves 0
    val star = Graph.betweennessSampled(
      undirected((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Double]("betweenness")).toMap
    assert(star(1L) == 9.0)
    assert(Seq(2L, 3L, 4L, 5L).forall(star(_) == 0.0))
  }

  test("edgeEmbeddedness: K4 edges all embed 2; a pendant edge is a bridge") {
    // K4 + pendant 4-5: every K4 edge sits in 2 triangles; 4-5 in none
    val g = undirected((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val out = Graph.edgeEmbeddedness(g).collect()
      .map(r => r.getAs[Long]("embeddedness") ->
        (r.getAs[Long]("n_edges"), r.getAs[Double]("bridge_share"))).toMap
    assert(out(2L)._1 == 6L)
    assert(out(0L)._1 == 1L)
    assert(math.abs(out(0L)._2 - 1.0 / 7) < 1e-6)
    assert(out.values.forall(v => math.abs(v._2 - 1.0 / 7) < 1e-6),
      "bridge share rides every row")
  }

  // The graph round-loops guard their node-sized broadcast hints
  // behind a measured node count (Loops.bcOr — broadcast under the
  // session's spark.graft.broadcastNodeLimit, shuffle_hash degrade
  // above). Limit 0 forces every loop onto the degrade path; results
  // must be IDENTICAL — the guard changes join strategy, never answers.
  test("broadcast guard: degrade path (limit 0) is result-identical " +
    "for LPA, SCC, MST, conductance, betweenness") {
    // two triangles joined by a bridge + a separate directed 2-cycle
    val und = undirected((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def degraded[T](body: => T): T = {
      spark.conf.set(graft.GraftConf.BroadcastNodeLimitKey, "0")
      try body finally spark.conf.unset(graft.GraftConf.BroadcastNodeLimitKey)
    }

    val lpaHint = Graph.labelPropagation(und)
    val lpaDeg = degraded(Graph.labelPropagation(und))
    assert(rows(lpaHint) == rows(lpaDeg), "LPA degrade mismatch")
    // the session limit really switches the strategy
    assert(lpaHint.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"))
    assert(!lpaDeg.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"))

    assert(rows(Graph.conductance(und, lpaHint)) ==
      degraded(rows(Graph.conductance(und, lpaDeg))),
      "conductance degrade mismatch")

    val dir = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L)).toDF("src", "dst")
    assert(rows(Graph.stronglyConnectedComponents(dir)) ==
      degraded(rows(Graph.stronglyConnectedComponents(dir))),
      "SCC degrade mismatch")

    val wund = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L),
      (3L, 4L, 5L), (4L, 5L, 1L), (4L, 6L, 2L)).toDF("src", "dst", "w")
    assert(rows(Graph.minimumSpanningForest(wund)) ==
      degraded(rows(Graph.minimumSpanningForest(wund))),
      "MST degrade mismatch")

    assert(rows(Graph.betweennessSampled(und, nSources = 7)) ==
      degraded(rows(Graph.betweennessSampled(und, nSources = 7))),
      "betweenness degrade mismatch")

    assert(rows(Graph.coreness(und)) ==
      degraded(rows(Graph.coreness(und))),
      "coreness degrade mismatch")

    assert(rows(Graph.kCore(und, k = 2)) ==
      degraded(rows(Graph.kCore(und, k = 2))),
      "kCore degrade mismatch")

    assert(rows(Graph.personalizedPageRank(und)) ==
      degraded(rows(Graph.personalizedPageRank(und))),
      "ppr degrade mismatch")

    val seeds = Seq(1L).toDF("node")
    assert(rows(Graph.bfs(und, seeds)) ==
      degraded(rows(Graph.bfs(und, seeds))), "bfs degrade mismatch")

    assert(rows(Graph.harmonicCentrality(und, nLandmarks = 6)) ==
      degraded(rows(Graph.harmonicCentrality(und, nLandmarks = 6))),
      "harmonic degrade mismatch")
  }

  // Run-to-fixpoint loops fail loudly at their cap instead of returning
  // a partial answer; the message names the operator and the cap.
  private def capFailure(body: => Any): String =
    intercept[IllegalStateException](body).getMessage

  test("kCore: peeling that has not settled at maxRounds throws") {
    // a path peels one endpoint pair per round at k = 2
    val path = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val msg = capFailure(Graph.kCore(path, k = 2, maxRounds = 1).collect())
    assert(msg.contains("kCore") && msg.contains("1 rounds"), msg)
    assert(Graph.kCore(path, k = 2, maxRounds = 4).count() == 0L)
  }

  test("coreness: maxIters is a result contract, not a convergence cap") {
    // a pendant chain off a triangle needs several H-index rounds; one
    // round returns the capped (upper-bound) values instead of throwing
    val g = undirected((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L))
    val capped = Graph.coreness(g, maxIters = 1).collect()
      .map(r => r.getAs[Int]("coreness") -> r.getAs[Long]("n_nodes")).toMap
    assert(capped.values.sum == 6L)
  }

  test("SCC: relaxation and peeling that have not settled at their caps throw") {
    // 1 → 2 → 3 → 4 → 1 needs several relaxation rounds
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val relax = capFailure(
      Graph.stronglyConnectedComponents(cycle, maxRounds = 1).collect())
    assert(relax.contains("SCC relaxation") && relax.contains("1 rounds"),
      relax)
    // {1,2} peels in pass 1; {3,4} is backward-reachable from 1, so it
    // only classifies in pass 2
    val two = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val peel = capFailure(
      Graph.stronglyConnectedComponents(two, maxPasses = 1).collect())
    assert(peel.contains("SCC peeling") && peel.contains("1 passes"), peel)
    assert(Graph.stronglyConnectedComponents(two, maxPasses = 2).count() == 2L)
  }

  test("minimumSpanningForest: Borůvka that has not converged at maxRounds throws") {
    // contraction needs one round to merge and one to find no crossing edge
    val w = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)).toDF("src", "dst", "w")
    val msg = capFailure(Graph.minimumSpanningForest(w, maxRounds = 1).collect())
    assert(msg.contains("Borůvka") && msg.contains("1 rounds"), msg)
    assert(Graph.minimumSpanningForest(w).count() == 3L)
  }
}
