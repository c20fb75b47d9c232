package graft

import graft.Staging._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.graph.{Graph, Walks}
import graft.multimodal.Multimodal
import graft.ops.{analytics, asof, baskets, expectations, exprs, qsketch, rangejoin, sketches, sweepline, timeseries, windows}
import graft.similarity.{LabelEval, Similarity}
import graft.sources.{HtmlTables, Layout, StagedSources}
import graft.streaming.Streams
import graft.text.{Bpe, Importance, Packing, SuffixArray, Text}

/** graph analytics over the co-occurrence snapshot — the Graph slice of the
  * extension surface, split out of [[ExtensionQueries]] (round 12)
  * with zero behavior change: entries are verbatim; shared artifact
  * helpers and oracle CTE fragments stay package-private in
  * [[ExtensionQueries]]. Composed back in [[ExtensionQueries.queries]]
  * / [[ExtensionQueries.oracleSql]]. */
private[graft] object GraphQueries {
  import Tables.t
  import ExtensionQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- graph quality prior (PageRank over the trade graph) --------------
    // customer↔supplier edges from orders⋈lineitem, symmetrized (the
    // host-graph shape: rank flows both ways, no dangling mass);
    // supplier ids offset so the two key spaces can't collide. Integer
    // fixed-point throughout — see graft.graph.Graph.
    "q_pagerank" -> ((s, d) =>
      Graph.pageRank(symAdjacency(s, d), "src", "dst", iterations = 3)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(20)),

    // degree distribution off the snapshot's normalized degree view —
    // the first report any graph build publishes (scale-freeness,
    // hub count, isolated-node check); one bounded groupBy over the
    // node-scale degrees file, the edge list never re-aggregated
    "q_graph_degree_profile" -> ((s, d) =>
      graphDegrees(s, d)
        .groupBy("degree")
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
        .orderBy("degree")),

    // INCREMENTAL degree maintenance — the graph-family analog of
    // q_sa_delta_dup's report patch: a delta edge batch (every 23rd
    // customer re-appears under a new id, bringing its edges) merges
    // into the at-rest degree view WITHOUT re-aggregating the edge
    // list. Existing nodes patch by a broadcast join of the
    // batch-bounded delta degrees (the degrees file is scanned, never
    // shuffled); brand-new nodes append via an anti-join of two
    // batch-bounded frames (the old side probed once with the delta's
    // node set broadcast). The oracle recomputes every degree from
    // scratch over the combined edge set.
    "q_graph_delta_degree" -> ((s, d) => {
      val e = sharedTradeEdges(s, d)
      val deltaE = e.filter(col("a") % 23 === 0)
        .select((col("a") + 20000000L).as("a"), col("b"))
      val deltaDeg = deltaE.select(col("a").as("node"))
        .unionAll(deltaE.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d_deg"))
      val old = graphDegrees(s, d)
      val oldMatches = old
        .join(broadcast(deltaDeg.select("node")), Seq("node"))
        .select("node")
      val patched = old.join(broadcast(deltaDeg), Seq("node"), "left")
        .select(col("node"),
          (col("degree") + coalesce(col("d_deg"), lit(0L)))
            .as("degree"))
      val fresh = deltaDeg.join(oldMatches, Seq("node"), "left_anti")
        .select(col("node"), col("d_deg").as("degree"))
      patched.unionByName(fresh).orderBy("node")
    }),

    // incremental maintenance of the SUPPORT graph: a delta batch of
    // baskets (re-keyed %23 orders, plus shifted-part copies so both
    // paths fire) patches the at-rest co_counts rollup — existing
    // pairs increment via a broadcast join of the batch-bounded pair
    // deltas (the rollup file is scanned, never shuffled; a sup=1
    // pair the delta re-supports FLIPS into the support cut, which is
    // why maintenance reads co_counts, not co_support), brand-new
    // pairs append via an anti-join of two batch-bounded frames. The
    // oracle recomputes the support graph from scratch over the
    // combined basket set.
    "q_graph_delta_support" -> ((s, d) => {
      val base = t(s, d, "lineitem")
        .filter(col("l_orderkey") % 23 === 0)
        .select((col("l_orderkey") + 1000000000L).as("k"),
          col("l_partkey").cast("long").as("p"))
      val deltaItems = base.unionAll(
        base.filter(col("p") % 2 === 0)
          .select(col("k"), (col("p") + 30000000L).as("p")))
      val deltaPairs = basketPairs(deltaItems)
        .groupBy("a", "b").agg(count(lit(1)).as("d_sup"))
      val old = coCountsGraph(s, d)
        .select(col("a").cast("long").as("a"),
          col("b").cast("long").as("b"), col("sup"))
      val oldMatches = old
        .join(broadcast(deltaPairs.select("a", "b")), Seq("a", "b"))
        .select("a", "b")
      val patched = old
        .join(broadcast(deltaPairs), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (col("sup") + coalesce(col("d_sup"), lit(0L))).as("sup"))
      val fresh = deltaPairs
        .join(oldMatches, Seq("a", "b"), "left_anti")
        .select(col("a"), col("b"), col("d_sup").as("sup"))
      patched.unionByName(fresh)
        .filter(col("sup") >= 2)
        .orderBy("a", "b")
    }),

    // the honest DIRECTED variant: customer→supplier edges are NOT
    // symmetrized, so every supplier is a dangling sink — the
    // per-round sink-mass redistribution (Graph.powerIterate) is what
    // keeps total rank conserved; the twin unrolls the same integer
    // iterations including the sink term
    "q_pagerank_directed" -> ((s, d) =>
      Graph.pageRank(sharedTradeEdges(s, d), "a", "b", iterations = 2)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(20)),

    // edge-WEIGHTED directed PageRank: weight = lineitem count per
    // (customer, supplier) lane, so rank follows trade VOLUME — the
    // host-graph form where link multiplicity matters; suppliers are
    // sinks, redistribution as in q_pagerank_directed
    "q_pagerank_weighted" -> ((s, d) => {
      val e = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 10000000L).as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      Graph.pageRankWeighted(e, "src", "dst", "w", iterations = 2)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(20)
    }),

    // ---- triangle count (clustering structure of the co-occurrence graph) -
    // parts that ship in the same order form an edge; triangles measure
    // how clique-ish purchasing is. Degree-ordered orientation keeps the
    // wedge join subquadratic at hub nodes — see Graph.triangleCount.
    "q_triangle_count" -> ((s, d) =>
      Graph.triangleCount(coOccurrencePairs(s, d), "a", "b")),

    // ---- per-node local clustering coefficient ------------------------------
    // 2T(w)/(d(d−1)) in integer micros over the co-occurrence graph —
    // the node-level cohesion feature; work is output-bound (Σ triangles)
    "q_clustering_coeff" -> ((s, d) =>
      Graph.clusteringCoefficient(coOccurrencePairs(s, d), "a", "b")
        .orderBy("node")),

    // Adamic–Adar edge confidence over the SUPPORT-FILTERED
    // co-occurrence graph: pairs must co-occur in ≥2 orders (the
    // market-basket min-support cut — at sf0.1 it collapses 1.2M raw
    // pairs to 3.6k genuinely-associated edges, the pruning any 100 TB
    // graph build does before analytics); AA then scores how strongly
    // each surviving edge is backed by shared (rare) neighbors
    "q_adamic_adar" -> ((s, d) => {
      Graph.adamicAdar(coSupportGraph(s, d).select("a", "b"), "a", "b")
        .orderBy(col("aa_micro").desc, col("node_a"), col("node_b"))
        .limit(50)
    }),

    // weighted AA over the same graph with co-occurrence SUPPORT as the
    // edge weight — shared context counts by how strongly both
    // endpoints connect to it, discounted by its total strength
    "q_adamic_adar_weighted" -> ((s, d) => {
      Graph.adamicAdarWeighted(coSupportGraph(s, d), "a", "b", "sup")
        .orderBy(col("aa_micro").desc, col("node_a"), col("node_b"))
        .limit(50)
    }),

    // ---- personalized PageRank (random walk with restart) -----------------
    // teleport only to seed customers (every 10th custkey present in
    // the graph) over the symmetrized trade graph — proximity-to-seeds
    // scoring, the TrustRank-style whitelist expansion; 2 integer
    // iterations, unrolled by the twin
    "q_ppr" -> ((s, d) => {
      val seeds = graphNodes(s, d)
        .filter(col("node") < 10000000L && col("node") % 10 === 0)
      Graph.personalizedPageRank(symAdjacency(s, d), "src", "dst",
          seeds, iterations = 2)
        .orderBy(col("rank_micro").desc, col("node"))
        .limit(20)
    }),

    // ---- time-respecting reachability -------------------------------------
    // contagion over the trade graph: an order at day t only spreads
    // from parties already exposed by day t (non-decreasing timestamps)
    // — static BFS overcounts; arrivals bucketed by ~year
    "q_temporal_reach" -> ((s, d) => {
      val e = t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 10000000L).as("dst"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").as("ts"))
        .distinct()
      val sym = e.unionAll(e.select(col("dst").as("src"),
        col("src").as("dst"), col("ts")))
      val seeds = sym.select(col("src").as("node")).distinct()
        .filter(col("node") < 10000000L && col("node") % 100 === 0)
      Graph.temporalReachability(sym, "src", "dst", "ts", seeds,
          startTs = 0L, maxHops = 3)
        .groupBy(expr("arrival div 365").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"),
          min(col("arrival")).as("min_arrival"))
        .orderBy("bucket")
    }),

    // ---- multi-source BFS hop distance ------------------------------------
    // "within k hops of the trusted seed set" — the hard-cutoff
    // companion to q_ppr's smooth proximity score; per-level node count
    // + id-sum checksums every distance exactly
    "q_bfs_hops" -> ((s, d) => {
      val seeds = graphNodes(s, d)
        .filter(col("node") < 10000000L && col("node") % 100 === 0)
      Graph.bfsHops(symAdjacency(s, d), "src", "dst", seeds,
          maxHops = 3)
        .groupBy("hops")
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
        .orderBy("hops")
    }),

    // ---- deterministic random walks (DeepWalk corpus) ---------------------
    // 2 walks × 4 steps from every node of the symmetrized trade graph;
    // next hop = rank md5(start|walk|t) mod degree over the rank-indexed
    // adjacency — ONE adjacency probe per walk-step, no neighbor fan-out.
    // Per-step rollup keeps the output report-sized while checksumming
    // every walk position
    // deliberately measures the walk-corpus BUILD off the at-rest
    // adjacency (the q_suffix_array convention); q_walk_pairs reads
    // the persisted corpus instead
    "q_random_walks" -> ((s, d) => {
      Walks.randomWalks(symAdjacency(s, d), "src", "dst",
          walksPerNode = 2, steps = 4)
        .groupBy("step")
        .agg(count(lit(1)).as("n_rows"), sum(col("node")).as("node_sum"),
          countDistinct(col("node")).as("n_distinct"))
        .orderBy("step")
    }),

    // node2vec second-order biased walks (DFS-ish regime: w_ret 250 /
    // w_common 1000 / w_far 2000 milli ≡ p=4, q=0.5) over the
    // support-filtered co-occurrence graph (it has triangles, so all
    // three weight classes actually fire — the bipartite trade graph
    // never exercises the common class); deterministic truncated
    // rejection, 4 attempts — constant probes per step, hub-proof
    "q_node2vec_walks" -> ((s, d) => {
      val pairs = coSupportGraph(s, d).select("a", "b")
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      Walks.node2vecWalks(sym, "src", "dst", walksPerNode = 1,
          steps = 3, wReturnMilli = 250L, wCommonMilli = 1000L,
          wFarMilli = 2000L, maxAttempts = 4)
        .groupBy("step")
        .agg(count(lit(1)).as("n_rows"), sum(col("node")).as("node_sum"),
          countDistinct(col("node")).as("n_distinct"))
        .orderBy("step")
    }),

    // skip-gram positive pairs from the AT-REST walk corpus (window 2)
    // — the actual node-embedding training set; the corpus is a
    // persisted build artifact (sharedWalkCorpus), consumed here
    // without regenerating a single walk step. Top-100 by
    // co-occurrence for a bounded report
    "q_walk_pairs" -> ((s, d) =>
      Walks.skipGramPairs(sharedWalkCorpus(s, d), window = 2)
        .orderBy(desc("n_cooc"), col("center"), col("context"))
        .limit(100)),

    // ---- harmonic centrality from landmarks ---------------------------------
    // Σ_landmarks 1/d over per-landmark BFS distances (hops ≤ 3), top-30
    // nodes — landmark state is k·reach rows, k sampled small
    "q_harmonic" -> ((s, d) => {
      val seeds = graphNodes(s, d)
        .filter(col("node") < 10000000L && col("node") % 500 === 0)
      Graph.landmarkDistances(symAdjacency(s, d), "src", "dst", seeds,
          maxHops = 3)
        .filter(col("hops") > 0)
        .groupBy("node")
        .agg(sum(expr("1000000 div hops")).as("h_micro"),
          count(lit(1)).as("n_lm"))
        .orderBy(desc("h_micro"), col("node"))
        .limit(30)
    }),

    // ---- weighted single-source shortest paths ------------------------------
    // min total quantity-cost from any seed customer over the symmetrized
    // trade graph; changed-only Bellman-Ford frontier, integer weights
    "q_sssp" -> ((s, d) => {
      val seeds = graphNodes(s, d)
        .filter(col("node") < 10000000L && col("node") % 100 === 0)
      Graph.shortestPaths(weightedSymAdjacency(s, d), "src", "dst",
          "w", seeds, maxRounds = 4)
        .groupBy(expr("dist div 5").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("node")).as("node_sum"), min(col("dist")).as("min_dist"))
        .orderBy("bucket")
    }),

    // ---- HITS hubs & authorities over the DIRECTED trade graph ------------
    // customers point at suppliers, so hub mass concentrates on
    // customers and authority mass on suppliers — the bipartite
    // centrality PageRank's symmetric formulation can't separate.
    // Integer fixed-point with per-round L1 normalization; the twin
    // unrolls the same 2 iterations in HUGEINT arithmetic
    "q_hits" -> ((s, d) =>
      Graph.hits(sharedTradeEdges(s, d), "a", "b", iterations = 2)
        .orderBy(col("auth_micro").desc, col("node"))
        .limit(20)),

    // ---- neighborhood Jaccard (normalized common-neighbors) ---------------
    // the scale-free sibling of Adamic–Adar over the same
    // support-filtered co-occurrence graph: how much of two parts'
    // combined neighborhoods is shared — output-bound triangle
    // enumeration, micros snapped by floor division
    "q_graph_jaccard" -> ((s, d) => {
      Graph.neighborhoodJaccard(coSupportGraph(s, d).select("a", "b"),
          "a", "b")
        .orderBy(col("jaccard_micro").desc, col("node_a"), col("node_b"))
        .limit(50)
    }),

    // ---- k-core peel (dense-subgraph curation filter) ---------------------
    // 3 synchronous peel rounds at k=3 over the support-filtered
    // co-occurrence graph: drop weakly-embedded parts round by round;
    // the twin unrolls the identical rounds, so the cap is exact
    "q_kcore" -> ((s, d) =>
      Graph.kCorePeel(coSupportGraph(s, d).select("a", "b"), "a", "b",
        k = 3, rounds = 3)),

    // deterministic synchronous label propagation (2 rounds) over the
    // same customer↔supplier trade graph PageRank scores — the
    // community view (which trading neighborhoods exist) next to
    // PageRank's importance view and CC's reachability view
    "q_label_propagation" -> ((s, d) =>
      Graph.labelPropagation(sharedTradeEdges(s, d), "a", "b",
        rounds = 2)),
  )

  def oracleSql: Map[String, String] = Map(
    // degree histogram recomputed from the fact tables — what the
    // engine reads pre-aggregated from the snapshot's degree view
    "q_graph_degree_profile" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src FROM e0 UNION ALL SELECT b FROM e0),
         deg AS (SELECT src AS node, COUNT(*)::BIGINT AS degree
                 FROM e GROUP BY src)
         SELECT degree, COUNT(*)::BIGINT AS n_nodes,
                SUM(node)::BIGINT AS node_sum
         FROM deg GROUP BY degree ORDER BY degree""",

    // from-scratch recomputation over the COMBINED edge set — what the
    // engine produces by patching the at-rest degree view
    "q_graph_delta_degree" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         ed AS (SELECT a + 20000000 AS a, b FROM e0 WHERE a % 23 = 0),
         allsym AS (
           SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
           UNION ALL SELECT a FROM ed UNION ALL SELECT b FROM ed)
         SELECT node, COUNT(*)::BIGINT AS degree
         FROM allsym GROUP BY node ORDER BY node""",

    // from-scratch support graph over the COMBINED basket set — what
    // the engine produces by patching the at-rest co_counts rollup
    "q_graph_delta_support" ->
      """WITH items AS (
           SELECT l_orderkey AS k, l_partkey AS p FROM lineitem
           UNION ALL
           SELECT l_orderkey + 1000000000, l_partkey
           FROM lineitem WHERE l_orderkey % 23 = 0
           UNION ALL
           SELECT l_orderkey + 1000000000, l_partkey + 30000000
           FROM lineitem
           WHERE l_orderkey % 23 = 0 AND l_partkey % 2 = 0),
         li AS (SELECT DISTINCT k, p FROM items),
         cnt AS (SELECT x.p AS a, y.p AS b, COUNT(*) AS sup
                 FROM li x JOIN li y ON x.k = y.k AND x.p < y.p
                 GROUP BY 1, 2)
         SELECT a::BIGINT AS a, b::BIGINT AS b, sup::BIGINT AS sup
         FROM cnt WHERE sup >= 2 ORDER BY a, b""",

    "q_pagerank" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM e0
               UNION ALL SELECT b, a FROM e0),
         nodes AS (SELECT DISTINCT src AS node FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         deg AS (SELECT src, COUNT(*) AS outd FROM e GROUP BY src),
         r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, nn),
         s1 AS (SELECT e.dst AS node, SUM(r0.r // deg.outd) AS insum
                FROM e JOIN r0 ON e.src = r0.node
                       JOIN deg ON e.src = deg.src
                GROUP BY e.dst),
         r1 AS (SELECT n.node,
                       (150000000000 // nn.n) +
                         (85 * COALESCE(s1.insum, 0)) // 100 AS r
                FROM nodes n LEFT JOIN s1 USING (node), nn),
         s2 AS (SELECT e.dst AS node, SUM(r1.r // deg.outd) AS insum
                FROM e JOIN r1 ON e.src = r1.node
                       JOIN deg ON e.src = deg.src
                GROUP BY e.dst),
         r2 AS (SELECT n.node,
                       (150000000000 // nn.n) +
                         (85 * COALESCE(s2.insum, 0)) // 100 AS r
                FROM nodes n LEFT JOIN s2 USING (node), nn),
         s3 AS (SELECT e.dst AS node, SUM(r2.r // deg.outd) AS insum
                FROM e JOIN r2 ON e.src = r2.node
                       JOIN deg ON e.src = deg.src
                GROUP BY e.dst),
         r3 AS (SELECT n.node,
                       (150000000000 // nn.n) +
                         (85 * COALESCE(s3.insum, 0)) // 100 AS r
                FROM nodes n LEFT JOIN s3 USING (node), nn)
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3
         ORDER BY rank_micro DESC, node LIMIT 20""",

    // directed PageRank with dangling-sink redistribution: sinks
    // (suppliers — no out-edges) pool their rank each round and every
    // node gets share = sink_sum // n added to its in-sum before
    // damping, mirroring Graph.powerIterate's integer formulation
    "q_pagerank_directed" ->
      """WITH e AS (
           SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         nodes AS (SELECT src AS node FROM e
                   UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         deg AS (SELECT src, COUNT(*) AS outd FROM e GROUP BY src),
         flag AS (SELECT node,
                         EXISTS (SELECT 1 FROM deg WHERE deg.src = node)
                           AS has_out
                  FROM nodes),
         r0 AS (SELECT node, has_out, 1000000000000 // n AS r
                FROM flag, nn),
         sh0 AS (SELECT (SELECT COALESCE(SUM(r), 0) FROM r0
                         WHERE NOT has_out) // n AS share FROM nn),
         i1 AS (SELECT e.dst AS node, SUM(r0.r // deg.outd) AS insum
                FROM e JOIN r0 ON e.src = r0.node
                       JOIN deg ON e.src = deg.src
                GROUP BY e.dst),
         r1 AS (SELECT f.node, f.has_out,
                       (150000000000 // nn.n) +
                         (85 * (COALESCE(i1.insum, 0) + sh0.share)) // 100
                         AS r
                FROM flag f LEFT JOIN i1 USING (node), nn, sh0),
         sh1 AS (SELECT (SELECT COALESCE(SUM(r), 0) FROM r1
                         WHERE NOT has_out) // n AS share FROM nn),
         i2 AS (SELECT e.dst AS node, SUM(r1.r // deg.outd) AS insum
                FROM e JOIN r1 ON e.src = r1.node
                       JOIN deg ON e.src = deg.src
                GROUP BY e.dst),
         r2 AS (SELECT f.node, f.has_out,
                       (150000000000 // nn.n) +
                         (85 * (COALESCE(i2.insum, 0) + sh1.share)) // 100
                         AS r
                FROM flag f LEFT JOIN i2 USING (node), nn, sh1)
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r2
         ORDER BY rank_micro DESC, node LIMIT 20""",

    // weighted directed PageRank unrolled 2 rounds: per-edge flow is
    // r·w // wsum (HUGEINT product — r·w passes 2⁶³), sinks pool and
    // redistribute as in q_pagerank_directed
    "q_pagerank_weighted" ->
      """WITH e AS (
           SELECT o_custkey AS src, l_suppkey + 10000000 AS dst,
                  COUNT(*) AS w
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2),
         nodes AS (SELECT src AS node FROM e
                   UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         ws AS (SELECT src, SUM(w) AS wsum FROM e GROUP BY src),
         flag AS (SELECT node,
                         EXISTS (SELECT 1 FROM ws WHERE ws.src = node)
                           AS has_out
                  FROM nodes),
         r0 AS (SELECT node, has_out, 1000000000000 // n AS r
                FROM flag, nn),
         sh0 AS (SELECT (SELECT COALESCE(SUM(r), 0) FROM r0
                         WHERE NOT has_out) // n AS share FROM nn),
         i1 AS (SELECT e.dst AS node,
                       SUM((CAST(r0.r AS HUGEINT) * e.w) // ws.wsum)
                         AS insum
                FROM e JOIN r0 ON e.src = r0.node
                       JOIN ws ON e.src = ws.src
                GROUP BY e.dst),
         r1 AS (SELECT f.node, f.has_out,
                       (150000000000 // nn.n) +
                         (85 * (COALESCE(i1.insum, 0) + sh0.share)) // 100
                         AS r
                FROM flag f LEFT JOIN i1 USING (node), nn, sh0),
         sh1 AS (SELECT (SELECT COALESCE(SUM(r), 0) FROM r1
                         WHERE NOT has_out) // n AS share FROM nn),
         i2 AS (SELECT e.dst AS node,
                       SUM((CAST(r1.r AS HUGEINT) * e.w) // ws.wsum)
                         AS insum
                FROM e JOIN r1 ON e.src = r1.node
                       JOIN ws ON e.src = ws.src
                GROUP BY e.dst),
         r2 AS (SELECT f.node, f.has_out,
                       (150000000000 // nn.n) +
                         (85 * (COALESCE(i2.insum, 0) + sh1.share)) // 100
                         AS r
                FROM flag f LEFT JOIN i2 USING (node), nn, sh1)
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r2
         ORDER BY rank_micro DESC, node LIMIT 20""",

    // the same 2 synchronous rounds unrolled: argmax neighbor label by
    // (count DESC, label ASC) each round, labels seeded with node ids
    "q_label_propagation" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_custkey <> l_suppkey + 10000000),
         e AS (SELECT a AS src, b AS dst FROM e0
               UNION SELECT b, a FROM e0),
         l0 AS (SELECT DISTINCT src AS node, src AS community FROM e),
         r1 AS (SELECT node, community FROM (
                  SELECT e.dst AS node, l.community, COUNT(*) AS c,
                         ROW_NUMBER() OVER (PARTITION BY e.dst
                           ORDER BY COUNT(*) DESC, l.community) AS rn
                  FROM e JOIN l0 l ON e.src = l.node
                  GROUP BY e.dst, l.community) WHERE rn = 1),
         r2 AS (SELECT node, community FROM (
                  SELECT e.dst AS node, l.community, COUNT(*) AS c,
                         ROW_NUMBER() OVER (PARTITION BY e.dst
                           ORDER BY COUNT(*) DESC, l.community) AS rn
                  FROM e JOIN r1 l ON e.src = l.node
                  GROUP BY e.dst, l.community) WHERE rn = 1)
         SELECT CAST(node AS BIGINT) AS node,
                CAST(community AS BIGINT) AS community FROM r2""",

    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
                     FROM lineitem),
         pairs AS (SELECT DISTINCT x.p AS a, y.p AS b
                   FROM li x JOIN li y ON x.k = y.k AND x.p < y.p)
         SELECT COUNT(*)::BIGINT AS n_triangles
         FROM pairs e1
         JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
         JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b""",

    // triangles enumerated once (u<v<w), each credits all three corners
    "q_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
                     FROM lineitem),
         pairs AS (SELECT DISTINCT x.p AS a, y.p AS b
                   FROM li x JOIN li y ON x.k = y.k AND x.p < y.p),
         tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
                 FROM pairs e1
                 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
         tn AS (SELECT node, COUNT(*) AS t FROM (
                  SELECT u AS node FROM tri
                  UNION ALL SELECT v FROM tri
                  UNION ALL SELECT w FROM tri) GROUP BY 1),
         deg AS (SELECT node, COUNT(*) AS d FROM (
                   SELECT a AS node FROM pairs
                   UNION ALL SELECT b FROM pairs) GROUP BY 1)
         SELECT deg.node, deg.d AS degree, COALESCE(tn.t, 0) AS n_tri,
                CASE WHEN deg.d >= 2
                     THEN CAST((COALESCE(tn.t, 0) * 2000000)
                               // (deg.d * (deg.d - 1)) AS BIGINT)
                     ELSE 0 END AS cc_micro
         FROM deg LEFT JOIN tn USING (node)
         ORDER BY node""",

    // tri enumerates (u < v < w) once since pairs are canonical a<b and
    // e2.b > e1.b, so the three contribution arms are already (lo, hi)
    "q_adamic_adar" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
                     FROM lineitem),
         pairs AS (SELECT x.p AS a, y.p AS b
                   FROM li x JOIN li y ON x.k = y.k AND x.p < y.p
                   GROUP BY x.p, y.p HAVING COUNT(*) >= 2),
         deg AS (SELECT v, COUNT(*) AS d
                 FROM (SELECT a AS v FROM pairs
                       UNION ALL SELECT b FROM pairs)
                 GROUP BY v),
         tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
                 FROM pairs e1
                 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
         contrib AS (
           SELECT u AS node_a, v AS node_b, w AS o FROM tri
           UNION ALL SELECT u, w, v FROM tri
           UNION ALL SELECT v, w, u FROM tri),
         sc AS (SELECT node_a, node_b,
                       CAST(round(1000000 / ln(d)) AS BIGINT) AS wm
                FROM contrib JOIN deg ON contrib.o = deg.v)
         SELECT node_a, node_b, COUNT(*)::BIGINT AS common_neighbors,
                CAST(SUM(wm) AS BIGINT) AS aa_micro
         FROM sc GROUP BY node_a, node_b
         ORDER BY aa_micro DESC, node_a, node_b LIMIT 50""",

    // weighted AA: same triangle enumeration, contribution
    // (w(u,z)+w(v,z))·5e5/ln(1+strength(z)) snapped to integer micros
    "q_adamic_adar_weighted" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
                     FROM lineitem),
         pairs AS (SELECT x.p AS a, y.p AS b,
                          LEAST(COUNT(*), 1000000)::BIGINT AS w
                   FROM li x JOIN li y ON x.k = y.k AND x.p < y.p
                   GROUP BY x.p, y.p HAVING COUNT(*) >= 2),
         st AS (SELECT v, SUM(w) AS s
                FROM (SELECT a AS v, w FROM pairs
                      UNION ALL SELECT b, w FROM pairs)
                GROUP BY v),
         tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS z
                 FROM pairs e1
                 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
         contrib AS (
           SELECT u AS node_a, v AS node_b, z AS o FROM tri
           UNION ALL SELECT u, z, v FROM tri
           UNION ALL SELECT v, z, u FROM tri),
         sc AS (SELECT node_a, node_b,
                       CAST(round((wa.w + wb.w) * 500000
                         / ln(1 + st.s)) AS BIGINT) AS wm
                FROM contrib
                JOIN pairs wa ON wa.a = LEAST(node_a, o)
                             AND wa.b = GREATEST(node_a, o)
                JOIN pairs wb ON wb.a = LEAST(node_b, o)
                             AND wb.b = GREATEST(node_b, o)
                JOIN st ON st.v = o)
         SELECT node_a, node_b, COUNT(*)::BIGINT AS common_neighbors,
                CAST(SUM(wm) AS BIGINT) AS aa_micro
         FROM sc GROUP BY node_a, node_b
         ORDER BY aa_micro DESC, node_a, node_b LIMIT 50""",

    // PPR unrolled 2 iterations: uniform Scale/N start, seed-only
    // teleport (150e9 // |seeds|), symmetrized graph so no sink term
    "q_ppr" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM e0
               UNION ALL SELECT b, a FROM e0),
         nodes AS (SELECT DISTINCT src AS node FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         deg AS (SELECT src, COUNT(*) AS outd FROM e GROUP BY src),
         sd AS (SELECT node,
                       (node < 10000000 AND node % 10 = 0) AS is_seed
                FROM nodes),
         ns AS (SELECT COUNT(*) AS k FROM sd WHERE is_seed),
         tp AS (SELECT 150000000000 // k AS t FROM ns),
         r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, nn),
         s1 AS (SELECT e.dst AS node, SUM(r0.r // deg.outd) AS insum
                FROM e JOIN r0 ON e.src = r0.node
                       JOIN deg ON e.src = deg.src
                GROUP BY e.dst),
         r1 AS (SELECT sd.node,
                       (CASE WHEN sd.is_seed THEN tp.t ELSE 0 END) +
                         (85 * COALESCE(s1.insum, 0)) // 100 AS r
                FROM sd LEFT JOIN s1 USING (node), tp),
         s2 AS (SELECT e.dst AS node, SUM(r1.r // deg.outd) AS insum
                FROM e JOIN r1 ON e.src = r1.node
                       JOIN deg ON e.src = deg.src
                GROUP BY e.dst),
         r2 AS (SELECT sd.node,
                       (CASE WHEN sd.is_seed THEN tp.t ELSE 0 END) +
                         (85 * COALESCE(s2.insum, 0)) // 100 AS r
                FROM sd LEFT JOIN s2 USING (node), tp)
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r2
         ORDER BY rank_micro DESC, node LIMIT 20""",

    // earliest-arrival relaxation unrolled 3 rounds (full relaxation ≡
    // the engine's changed-only frontier — min is idempotent); explicit
    // null-safe min merge, ts gate e.ts >= arrival
    "q_temporal_reach" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst,
                  date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
                    AS ts
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT src, dst, ts FROM e0
               UNION ALL SELECT dst, src, ts FROM e0),
         a0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS arrival
                FROM e WHERE src < 10000000 AND src % 100 = 0),
         c1 AS (SELECT e.dst AS node, MIN(e.ts) AS cand
                FROM e JOIN a0 ON e.src = a0.node AND e.ts >= a0.arrival
                GROUP BY 1),
         a1 AS (SELECT COALESCE(a.node, c.node) AS node,
                       CASE WHEN a.arrival IS NULL THEN c.cand
                            WHEN c.cand IS NULL THEN a.arrival
                            WHEN c.cand < a.arrival THEN c.cand
                            ELSE a.arrival END AS arrival
                FROM a0 a FULL OUTER JOIN c1 c ON a.node = c.node),
         c2 AS (SELECT e.dst AS node, MIN(e.ts) AS cand
                FROM e JOIN a1 ON e.src = a1.node AND e.ts >= a1.arrival
                GROUP BY 1),
         a2 AS (SELECT COALESCE(a.node, c.node) AS node,
                       CASE WHEN a.arrival IS NULL THEN c.cand
                            WHEN c.cand IS NULL THEN a.arrival
                            WHEN c.cand < a.arrival THEN c.cand
                            ELSE a.arrival END AS arrival
                FROM a1 a FULL OUTER JOIN c2 c ON a.node = c.node),
         c3 AS (SELECT e.dst AS node, MIN(e.ts) AS cand
                FROM e JOIN a2 ON e.src = a2.node AND e.ts >= a2.arrival
                GROUP BY 1),
         a3 AS (SELECT COALESCE(a.node, c.node) AS node,
                       CASE WHEN a.arrival IS NULL THEN c.cand
                            WHEN c.cand IS NULL THEN a.arrival
                            WHEN c.cand < a.arrival THEN c.cand
                            ELSE a.arrival END AS arrival
                FROM a2 a FULL OUTER JOIN c3 c ON a.node = c.node)
         SELECT CAST(arrival // 365 AS BIGINT) AS bucket,
                COUNT(*) AS n_nodes,
                CAST(SUM(node) AS BIGINT) AS node_sum,
                CAST(MIN(arrival) AS BIGINT) AS min_arrival
         FROM a3 GROUP BY 1 ORDER BY 1""",

    // BFS unrolled 3 hops over the symmetrized graph: d_{r+1} = new
    // nodes reachable from d_r; per-level count + id sum
    "q_bfs_hops" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM e0
               UNION ALL SELECT b, a FROM e0),
         d0 AS (SELECT DISTINCT src AS node FROM e
                WHERE src < 10000000 AND src % 100 = 0),
         d1 AS (SELECT DISTINCT e.dst AS node FROM e
                JOIN d0 ON e.src = d0.node
                WHERE e.dst NOT IN (SELECT node FROM d0)),
         d2 AS (SELECT DISTINCT e.dst AS node FROM e
                JOIN d1 ON e.src = d1.node
                WHERE e.dst NOT IN (SELECT node FROM d0
                                    UNION ALL SELECT node FROM d1)),
         d3 AS (SELECT DISTINCT e.dst AS node FROM e
                JOIN d2 ON e.src = d2.node
                WHERE e.dst NOT IN (SELECT node FROM d0
                                    UNION ALL SELECT node FROM d1
                                    UNION ALL SELECT node FROM d2)),
         allh AS (SELECT node, 0 AS hops FROM d0
                  UNION ALL SELECT node, 1 FROM d1
                  UNION ALL SELECT node, 2 FROM d2
                  UNION ALL SELECT node, 3 FROM d3)
         SELECT hops, COUNT(*) AS n_nodes,
                CAST(SUM(node) AS BIGINT) AS node_sum
         FROM allh GROUP BY hops ORDER BY hops""",

    // walk unrolled 4 steps over the rank-indexed adjacency; next hop =
    // rank md5(start|walk|t) mod degree in dst order (same hex-prefix
    // cast the CMS twins use)
    "q_random_walks" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM e0
               UNION ALL SELECT b, a FROM e0),
         adj AS (SELECT src, dst,
                        row_number() OVER (PARTITION BY src
                          ORDER BY dst) - 1 AS rk
                 FROM e),
         deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         w0 AS (SELECT DISTINCT src AS start, w.walk, src AS node
                FROM e, (VALUES (0), (1)) w(walk)),
         w1 AS (SELECT start, walk, a.dst AS node
                FROM w0 JOIN deg d ON d.src = w0.node
                JOIN adj a ON a.src = w0.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|1'),
                   1, 8))::BIGINT % d.deg),
         w2 AS (SELECT start, walk, a.dst AS node
                FROM w1 JOIN deg d ON d.src = w1.node
                JOIN adj a ON a.src = w1.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|2'),
                   1, 8))::BIGINT % d.deg),
         w3 AS (SELECT start, walk, a.dst AS node
                FROM w2 JOIN deg d ON d.src = w2.node
                JOIN adj a ON a.src = w2.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|3'),
                   1, 8))::BIGINT % d.deg),
         w4 AS (SELECT start, walk, a.dst AS node
                FROM w3 JOIN deg d ON d.src = w3.node
                JOIN adj a ON a.src = w3.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|4'),
                   1, 8))::BIGINT % d.deg),
         walks AS (
           SELECT start, walk, 0 AS step, node FROM w0
           UNION ALL SELECT start, walk, 1, node FROM w1
           UNION ALL SELECT start, walk, 2, node FROM w2
           UNION ALL SELECT start, walk, 3, node FROM w3
           UNION ALL SELECT start, walk, 4, node FROM w4)
         SELECT step::BIGINT AS step, count(*)::BIGINT AS n_rows,
                sum(node)::BIGINT AS node_sum,
                count(DISTINCT node)::BIGINT AS n_distinct
         FROM walks GROUP BY step ORDER BY step""",

    // node2vec unrolled 3 steps: step 1 uniform, steps 2-3 pick the
    // first of 4 keyed-hash rejection attempts (accept iff
    // hash % 2000 < class weight; class = return / common-neighbor /
    // far via one adjacency membership probe), fallback attempt 1
    "q_node2vec_walks" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
                     FROM lineitem),
         pairs AS (SELECT x.p AS a, y.p AS b
                   FROM li x JOIN li y ON x.k = y.k AND x.p < y.p
                   GROUP BY x.p, y.p HAVING COUNT(*) >= 2),
         e AS (SELECT a AS src, b AS dst FROM pairs
               UNION ALL SELECT b, a FROM pairs),
         adj AS (SELECT src, dst,
                        row_number() OVER (PARTITION BY src
                          ORDER BY dst) - 1 AS rk
                 FROM e),
         deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         w0 AS (SELECT DISTINCT src AS start, 0 AS walk, src AS node
                FROM e),
         w1 AS (SELECT start, walk, w0.node AS prev, a.dst AS node
                FROM w0 JOIN deg d ON d.src = w0.node
                JOIN adj a ON a.src = w0.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|1'),
                   1, 8))::BIGINT % d.deg),
         p2 AS (SELECT start, walk, prev, w1.node, t.att, a.dst AS cand
                FROM w1 JOIN deg d ON d.src = w1.node
                CROSS JOIN (VALUES (1), (2), (3), (4)) t(att)
                JOIN adj a ON a.src = w1.node AND a.rk =
                  ('0x' || substr(md5('n2vp|' || start || '|' || walk
                   || '|2|' || att), 1, 8))::BIGINT % d.deg),
         m2 AS (SELECT p2.*,
                       CASE WHEN cand = prev THEN 250
                            WHEN m.src IS NOT NULL THEN 1000
                            ELSE 2000 END AS w
                FROM p2 LEFT JOIN adj m
                  ON m.src = p2.prev AND m.dst = p2.cand),
         k2 AS (SELECT start, walk, node AS prev2, cand,
                       CASE WHEN ('0x' || substr(md5('n2va|' || start
                         || '|' || walk || '|2|' || att), 1, 8))::BIGINT
                         % 2000 < w THEN att ELSE att + 4 END AS key
                FROM m2),
         w2 AS (SELECT start, walk, prev2 AS prev, cand AS node
                FROM (SELECT *, row_number() OVER (PARTITION BY start,
                        walk ORDER BY key) AS rn FROM k2)
                WHERE rn = 1),
         p3 AS (SELECT start, walk, prev, w2.node, t.att, a.dst AS cand
                FROM w2 JOIN deg d ON d.src = w2.node
                CROSS JOIN (VALUES (1), (2), (3), (4)) t(att)
                JOIN adj a ON a.src = w2.node AND a.rk =
                  ('0x' || substr(md5('n2vp|' || start || '|' || walk
                   || '|3|' || att), 1, 8))::BIGINT % d.deg),
         m3 AS (SELECT p3.*,
                       CASE WHEN cand = prev THEN 250
                            WHEN m.src IS NOT NULL THEN 1000
                            ELSE 2000 END AS w
                FROM p3 LEFT JOIN adj m
                  ON m.src = p3.prev AND m.dst = p3.cand),
         k3 AS (SELECT start, walk, cand,
                       CASE WHEN ('0x' || substr(md5('n2va|' || start
                         || '|' || walk || '|3|' || att), 1, 8))::BIGINT
                         % 2000 < w THEN att ELSE att + 4 END AS key
                FROM m3),
         w3 AS (SELECT start, walk, cand AS node
                FROM (SELECT *, row_number() OVER (PARTITION BY start,
                        walk ORDER BY key) AS rn FROM k3)
                WHERE rn = 1),
         walks AS (
           SELECT start, walk, 0 AS step, node FROM w0
           UNION ALL SELECT start, walk, 1, node FROM w1
           UNION ALL SELECT start, walk, 2, node FROM w2
           UNION ALL SELECT start, walk, 3, node FROM w3)
         SELECT step::BIGINT AS step, count(*)::BIGINT AS n_rows,
                sum(node)::BIGINT AS node_sum,
                count(DISTINCT node)::BIGINT AS n_distinct
         FROM walks GROUP BY step ORDER BY step""",

    // same walk corpus, windowed self-join → co-occurrence pairs
    "q_walk_pairs" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM e0
               UNION ALL SELECT b, a FROM e0),
         adj AS (SELECT src, dst,
                        row_number() OVER (PARTITION BY src
                          ORDER BY dst) - 1 AS rk
                 FROM e),
         deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         w0 AS (SELECT DISTINCT src AS start, w.walk, src AS node
                FROM e, (VALUES (0), (1)) w(walk)),
         w1 AS (SELECT start, walk, a.dst AS node
                FROM w0 JOIN deg d ON d.src = w0.node
                JOIN adj a ON a.src = w0.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|1'),
                   1, 8))::BIGINT % d.deg),
         w2 AS (SELECT start, walk, a.dst AS node
                FROM w1 JOIN deg d ON d.src = w1.node
                JOIN adj a ON a.src = w1.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|2'),
                   1, 8))::BIGINT % d.deg),
         w3 AS (SELECT start, walk, a.dst AS node
                FROM w2 JOIN deg d ON d.src = w2.node
                JOIN adj a ON a.src = w2.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|3'),
                   1, 8))::BIGINT % d.deg),
         w4 AS (SELECT start, walk, a.dst AS node
                FROM w3 JOIN deg d ON d.src = w3.node
                JOIN adj a ON a.src = w3.node AND a.rk =
                  ('0x' || substr(md5(start || '|' || walk || '|4'),
                   1, 8))::BIGINT % d.deg),
         walks AS (
           SELECT start, walk, 0 AS step, node FROM w0
           UNION ALL SELECT start, walk, 1, node FROM w1
           UNION ALL SELECT start, walk, 2, node FROM w2
           UNION ALL SELECT start, walk, 3, node FROM w3
           UNION ALL SELECT start, walk, 4, node FROM w4)
         SELECT a.node AS center, b.node AS context,
                count(*)::BIGINT AS n_cooc
         FROM walks a JOIN walks b USING (start, walk)
         WHERE a.step <> b.step AND abs(a.step - b.step) <= 2
         GROUP BY 1, 2
         ORDER BY n_cooc DESC, center, context LIMIT 100""",

    // per-landmark BFS unrolled 3 rounds; harmonic = Σ 10⁶ // hops
    "q_harmonic" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT a AS src, b AS dst FROM e0
               UNION ALL SELECT b, a FROM e0),
         d0 AS (SELECT DISTINCT src AS lm, src AS node FROM e
                WHERE src < 10000000 AND src % 500 = 0),
         d1 AS (SELECT DISTINCT d0.lm, e.dst AS node
                FROM d0 JOIN e ON e.src = d0.node
                EXCEPT SELECT lm, node FROM d0),
         d2 AS (SELECT DISTINCT d1.lm, e.dst AS node
                FROM d1 JOIN e ON e.src = d1.node
                EXCEPT (SELECT lm, node FROM d0
                        UNION ALL SELECT lm, node FROM d1)),
         d3 AS (SELECT DISTINCT d2.lm, e.dst AS node
                FROM d2 JOIN e ON e.src = d2.node
                EXCEPT (SELECT lm, node FROM d0
                        UNION ALL SELECT lm, node FROM d1
                        UNION ALL SELECT lm, node FROM d2)),
         allh AS (SELECT lm, node, 1 AS hops FROM d1
                  UNION ALL SELECT lm, node, 2 FROM d2
                  UNION ALL SELECT lm, node, 3 FROM d3)
         SELECT node, CAST(SUM(1000000 // hops) AS BIGINT) AS h_micro,
                COUNT(*) AS n_lm
         FROM allh GROUP BY 1
         ORDER BY h_micro DESC, node LIMIT 30""",

    // Bellman-Ford unrolled 4 full-relaxation rounds — equivalent to the
    // changed-only frontier (min is idempotent; unchanged nodes'
    // contributions were already merged)
    "q_sssp" ->
      """WITH e0 AS (
           SELECT o_custkey AS a, l_suppkey + 10000000 AS b,
                  SUM(CAST(l_quantity AS BIGINT)) AS w
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2),
         e AS (SELECT a AS src, b AS dst, w FROM e0
               UNION ALL SELECT b, a, w FROM e0),
         r0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
                FROM e WHERE src < 10000000 AND src % 100 = 0),
         r1 AS (SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM r0
                  UNION ALL
                  SELECT e.dst, r0.dist + e.w FROM r0
                  JOIN e ON e.src = r0.node) GROUP BY 1),
         r2 AS (SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM r1
                  UNION ALL
                  SELECT e.dst, r1.dist + e.w FROM r1
                  JOIN e ON e.src = r1.node) GROUP BY 1),
         r3 AS (SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM r2
                  UNION ALL
                  SELECT e.dst, r2.dist + e.w FROM r2
                  JOIN e ON e.src = r2.node) GROUP BY 1),
         r4 AS (SELECT node, MIN(dist) AS dist FROM (
                  SELECT node, dist FROM r3
                  UNION ALL
                  SELECT e.dst, r3.dist + e.w FROM r3
                  JOIN e ON e.src = r3.node) GROUP BY 1)
         SELECT CAST(dist // 5 AS BIGINT) AS bucket, COUNT(*) AS n_nodes,
                CAST(SUM(node) AS BIGINT) AS node_sum,
                CAST(MIN(dist) AS BIGINT) AS min_dist
         FROM r4 GROUP BY 1 ORDER BY 1""",

    // HITS unrolled 2 iterations: integer scores, L1-normalized to 1e12
    // per round in HUGEINT (raw·1e12 exceeds BIGINT), floor division
    // matching Spark's decimal div — same update order (auth from hubs,
    // then hubs from auths) as Graph.hits
    "q_hits" ->
      """WITH e AS (
           SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         h0 AS (SELECT node, 1000000000000 // n AS s FROM nodes, nn),
         a1r AS (SELECT e.dst AS node, SUM(h0.s) AS raw
                 FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst),
         a1t AS (SELECT SUM(raw)::HUGEINT AS t FROM a1r),
         a1 AS (SELECT node,
                       (raw::HUGEINT * 1000000000000) // t AS s
                FROM a1r, a1t),
         h1r AS (SELECT e.src AS node, SUM(a1.s) AS raw
                 FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
         h1t AS (SELECT SUM(raw)::HUGEINT AS t FROM h1r),
         h1 AS (SELECT node,
                       (raw::HUGEINT * 1000000000000) // t AS s
                FROM h1r, h1t),
         a2r AS (SELECT e.dst AS node, SUM(h1.s) AS raw
                 FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
         a2t AS (SELECT SUM(raw)::HUGEINT AS t FROM a2r),
         a2 AS (SELECT node,
                       (raw::HUGEINT * 1000000000000) // t AS s
                FROM a2r, a2t),
         h2r AS (SELECT e.src AS node, SUM(a2.s) AS raw
                 FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
         h2t AS (SELECT SUM(raw)::HUGEINT AS t FROM h2r),
         h2 AS (SELECT node,
                       (raw::HUGEINT * 1000000000000) // t AS s
                FROM h2r, h2t)
         SELECT n.node,
                CAST(COALESCE(h2.s, 0) AS BIGINT) AS hub_micro,
                CAST(COALESCE(a2.s, 0) AS BIGINT) AS auth_micro
         FROM nodes n
         LEFT JOIN h2 ON h2.node = n.node
         LEFT JOIN a2 ON a2.node = n.node
         ORDER BY auth_micro DESC, n.node LIMIT 20""",

    // same triangle enumeration as q_adamic_adar; the per-edge common
    // count normalizes by inclusion–exclusion union, floor-divided
    // micros on both engines
    "q_graph_jaccard" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
                     FROM lineitem),
         pairs AS (SELECT x.p AS a, y.p AS b
                   FROM li x JOIN li y ON x.k = y.k AND x.p < y.p
                   GROUP BY x.p, y.p HAVING COUNT(*) >= 2),
         deg AS (SELECT v, COUNT(*) AS d
                 FROM (SELECT a AS v FROM pairs
                       UNION ALL SELECT b FROM pairs)
                 GROUP BY v),
         tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
                 FROM pairs e1
                 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
         contrib AS (
           SELECT u AS node_a, v AS node_b FROM tri
           UNION ALL SELECT u, w FROM tri
           UNION ALL SELECT v, w FROM tri),
         cnt AS (SELECT node_a, node_b, COUNT(*) AS common_neighbors
                 FROM contrib GROUP BY node_a, node_b)
         SELECT node_a, node_b,
                CAST(common_neighbors AS BIGINT) AS common_neighbors,
                (common_neighbors * 1000000)
                  // (da.d + db.d - common_neighbors) AS jaccard_micro
         FROM cnt
         JOIN deg da ON da.v = cnt.node_a
         JOIN deg db ON db.v = cnt.node_b
         ORDER BY jaccard_micro DESC, node_a, node_b LIMIT 50""",

    // 3 synchronous peel rounds at k=3, unrolled: degrees over the
    // surviving subgraph, keep >= k, filter edges to kept×kept;
    // output = round-3 survivors with their final-subgraph degree
    // (0 if every remaining neighbor fell)
    "q_kcore" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
                     FROM lineitem),
         e0 AS (SELECT x.p AS lo, y.p AS hi
                FROM li x JOIN li y ON x.k = y.k AND x.p < y.p
                GROUP BY x.p, y.p HAVING COUNT(*) >= 2),
         d1 AS (SELECT v AS node, COUNT(*) AS degree
                FROM (SELECT lo AS v FROM e0
                      UNION ALL SELECT hi FROM e0) GROUP BY v),
         k1 AS (SELECT node FROM d1 WHERE degree >= 3),
         e1 AS (SELECT lo, hi FROM e0
                WHERE lo IN (SELECT node FROM k1)
                  AND hi IN (SELECT node FROM k1)),
         d2 AS (SELECT v AS node, COUNT(*) AS degree
                FROM (SELECT lo AS v FROM e1
                      UNION ALL SELECT hi FROM e1) GROUP BY v),
         k2 AS (SELECT node FROM d2 WHERE degree >= 3),
         e2 AS (SELECT lo, hi FROM e1
                WHERE lo IN (SELECT node FROM k2)
                  AND hi IN (SELECT node FROM k2)),
         d3 AS (SELECT v AS node, COUNT(*) AS degree
                FROM (SELECT lo AS v FROM e2
                      UNION ALL SELECT hi FROM e2) GROUP BY v),
         k3 AS (SELECT node FROM d3 WHERE degree >= 3),
         e3 AS (SELECT lo, hi FROM e2
                WHERE lo IN (SELECT node FROM k3)
                  AND hi IN (SELECT node FROM k3)),
         df AS (SELECT v AS node, COUNT(*) AS degree
                FROM (SELECT lo AS v FROM e3
                      UNION ALL SELECT hi FROM e3) GROUP BY v)
         SELECT k3.node,
                CAST(COALESCE(df.degree, 0) AS BIGINT) AS degree
         FROM k3 LEFT JOIN df USING (node)""",
  )
}
