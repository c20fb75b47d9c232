package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Staging.StageOps

/** Deterministic random walks for graph-embedding training data
  * (DeepWalk / node2vec positive-pair generation, Perozzi et al. 2014 —
  * the walk corpus is the "sentences" a skip-gram model trains on).
  *
  * Walks must be REPRODUCIBLE here (oracle-compared, resumable at
  * scale), so the next hop is not an RNG draw but a keyed deterministic
  * choice: at step t of walk (start, w) on node u, move to u's neighbor
  * of rank  md5("start|w|t") mod degree(u)  in dst order. The digest
  * depends only on the walk identity and step — NOT on the candidate
  * neighbor — so each walk-step touches exactly ONE adjacency row via an
  * equi-join on (node, rank). A hub node with 10^6 neighbors costs a
  * walk passing through it one probe, not 10^6 hash evaluations (the
  * argmin-over-neighbors formulation fans out by the frontier's degree
  * sum every step — measured 42 s vs ~4 s on the sf0.1 trade graph).
  *
  * Scale shape: the rank-indexed adjacency (row_number per src — a
  * per-key window over the edge list, built once and staged) and the
  * degree table are edge-/node-partitioned; each step is two
  * hash-partitioned equi-joins sized by the walk count. State is linear
  * in walks; rounds are the fixed walk length. No driver state.
  */
object Walks {

  /** Walk corpus: (start, walk, step, node) for step 0..steps, one walk
    * per (node × walksPerNode) over EVERY distinct node (sources and
    * sinks — a sink contributes its step-0 row and stops, so directed
    * graphs get full node coverage in the corpus; on a symmetrized
    * graph the seed set equals the source set and nothing changes). */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  walksPerNode: Int, steps: Int): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    // rank-indexed adjacency + degrees, built once, probed every step
    // persisted, deliberately NOT staged (see [[graft.Staging]] on
    // persist vs stage): the window's own hash exchange on src is
    // the one exchange the adjacency ever pays, and each step then
    // shuffles only the walk-sized frontier side. At web-graph scale
    // the adjacency cannot broadcast, so the pinned partitioning is
    // what caps per-step cost.
    val adj = e.withColumn("rk",
        row_number().over(
          Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .select(col("src").as("a_src"), col("rk").cast("long").as("a_rk"),
        col("dst").as("a_dst"))
      .persist()
    try {
      val deg = adj.groupBy(col("a_src").as("d_src"))
        .agg(count(lit(1)).as("deg")).stage()
      val walkIds = broadcast(
        e.sparkSession.range(walksPerNode).toDF("walk"))
      var frontier = e.select(col("src").as("start"))
        .union(e.select(col("dst").as("start"))).distinct()
        .crossJoin(walkIds)
        .select(col("start"), col("walk"), col("start").as("node"))
        .stage()
      var out = frontier.withColumn("step", lit(0))
      for (t <- 1 to steps) {
        // md5("start|walk|t") mod degree — one adjacency row per walk.
        // shuffle_hash with the WALK side as build (guide §3.1): the
        // default SortMergeJoin re-sorts the persisted E-row adjacency
        // every step (persist pins rows, not order); hashing the bounded
        // frontier instead streams the adjacency unsorted, so each step
        // pays one walk-sized exchange and zero E-row sorts.
        frontier = frontier
          .join(deg.hint("shuffle_hash"), col("node") === col("d_src"))
          .withColumn("pick",
            conv(substring(md5(concat_ws("|", col("start"), col("walk"),
              lit(t))), 1, 8), 16, 10).cast("long") % col("deg"))
          .hint("shuffle_hash")
          .join(adj, col("node") === col("a_src") &&
            col("pick") === col("a_rk"))
          .select(col("start"), col("walk"), col("a_dst").as("node"))
          .stage()
        out = out.unionByName(frontier.withColumn("step", lit(t)))
      }
      out.select(col("start"), col("walk").cast("long").as("walk"),
        col("step").cast("long").as("step"), col("node"))
    } finally adj.unpersist() // out reads only the staged per-step frontiers
  }

  /** node2vec walks (Grover & Leskovec 2016): second-order biased walks
    * where the hop from `node` with previous node `prev` weights each
    * neighbor v by 1/p if v = prev (return), 1 if v ∈ N(prev) (stay
    * near), 1/q otherwise (move away) — here as integer milli-weights
    * (`wReturnMilli`/`wCommonMilli`/`wFarMilli`), so p = 1000/wReturn
    * and q = 1000/wFar when wCommon = 1000.
    *
    * The second-order bias is sampled by DETERMINISTIC TRUNCATED
    * REJECTION (the KnightKing scheme, Yang et al. 2019 — the public
    * answer to "weighted pick without fanning out by degree"): each
    * step draws up to `maxAttempts` uniform proposals v_a from N(node)
    * (one rank-indexed adjacency probe per attempt — a 10⁶-degree hub
    * still costs attempts, not degree), classifies each with ONE edge-
    * existence probe (prev→v_a ∈ E), and accepts attempt a iff a keyed
    * hash mod max(w) falls below w(v_a); the first accepted attempt
    * wins. If all attempts reject — probability ≤ (1 − min(w)/max(w))^
    * maxAttempts per step — the walk falls back to attempt 1's uniform
    * proposal, a documented truncation of the exact node2vec kernel
    * (exact rejection loops unboundedly; a fixed attempt budget keeps
    * every step a constant number of linear joins). All draws are keyed
    * md5 of (walk identity, step, attempt), so the corpus is
    * reproducible on any engine.
    *
    * Scale shape: per step, `maxAttempts` rows per live walk flow
    * through two hash equi-joins (adjacency probe, edge-existence
    * probe) and a per-walk min_by aggregation — linear in walks,
    * hub-proof, no driver state. Step 1 has no `prev` and hops
    * uniformly (the standard node2vec start).
    *
    * @return (start, walk, step, node) for step 0..steps, every
    *         distinct node seeded (sinks stop after step 0)
    */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
                    walksPerNode: Int, steps: Int,
                    wReturnMilli: Long, wCommonMilli: Long,
                    wFarMilli: Long, maxAttempts: Int = 4): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(Seq(wReturnMilli, wCommonMilli, wFarMilli).forall(_ >= 1),
      "milli-weights must be >= 1")
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val wMax = Seq(wReturnMilli, wCommonMilli, wFarMilli).max
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    // persisted with a VISIBLE src partitioning (see randomWalks):
    // both per-step probes — the proposal join on (a_src, a_rk) and
    // the edge-existence probe on (m_src, m_dst) — are keyed by the
    // src-subset, so neither ever re-exchanges the adjacency
    val adj = e.withColumn("rk",
        row_number().over(
          Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .select(col("src").as("a_src"), col("rk").cast("long").as("a_rk"),
        col("dst").as("a_dst"))
      .persist()
    try {
      val deg = adj.groupBy(col("a_src").as("d_src"))
        .agg(count(lit(1)).as("deg")).stage()
      val walkIds = broadcast(
        e.sparkSession.range(walksPerNode).toDF("walk"))
      val starts = e.select(col("src").as("start"))
        .union(e.select(col("dst").as("start"))).distinct()
        .crossJoin(walkIds)
        .stage()
      var out = starts
        .select(col("start"), col("walk"), lit(0).as("step"),
          col("start").as("node"))
      // step 1: uniform (no prev yet) — same keyed pick as randomWalks
      // deliberately NO shuffle_hash hints in node2vec (unlike
      // randomWalks): its graph is the small support-filtered cut, where
      // the planner's broadcasts beat forced shuffles at every step
      // (measured 0.63x with the hints forced)
      var frontier = starts
        .select(col("start"), col("walk"), col("start").as("node"))
        .join(deg, col("node") === col("d_src"))
        .withColumn("pick",
          conv(substring(md5(concat_ws("|", col("start"), col("walk"),
            lit(1))), 1, 8), 16, 10).cast("long") % col("deg"))
        .join(adj, col("node") === col("a_src") &&
          col("pick") === col("a_rk"))
        .select(col("start"), col("walk"), col("node").as("prev"),
          col("a_dst").as("node"))
        .stage()
      out = out.unionByName(frontier
        .select(col("start"), col("walk"), lit(1).as("step"), col("node")))
      for (t <- 2 to steps) {
        val proposals = frontier
          .join(deg, col("node") === col("d_src"))
          .withColumn("att",
            explode(sequence(lit(1), lit(maxAttempts))))
          .withColumn("pick",
            conv(substring(md5(concat_ws("|", lit("n2vp"), col("start"),
              col("walk"), lit(t), col("att"))), 1, 8), 16, 10)
              .cast("long") % col("deg"))
          .join(adj, col("node") === col("a_src") &&
            col("pick") === col("a_rk"))
          .select(col("start"), col("walk"), col("prev"), col("node"),
            col("att"), col("a_dst").as("cand"))
        val marked = proposals
          // ONE edge-existence probe classifies the proposal: is cand a
          // neighbor of prev? (the common-neighbor class) — never a
          // common-neighbor LIST materialization. Deliberately NOT
          // shuffle_hash: a LEFT OUTER join can only hash-build its
          // RIGHT side, and that is the E-row adjacency — sort-merge
          // spills gracefully where an E-sized per-partition hash map
          // is the §5 OOM shape.
          .join(adj.select(col("a_src").as("m_src"),
            col("a_dst").as("m_dst"), lit(1).as("m")),
            col("prev") === col("m_src") && col("cand") === col("m_dst"),
            "left")
          .withColumn("w",
            when(col("cand") === col("prev"), lit(wReturnMilli))
              .when(col("m").isNotNull, lit(wCommonMilli))
              .otherwise(lit(wFarMilli)))
          .withColumn("acc",
            conv(substring(md5(concat_ws("|", lit("n2va"), col("start"),
              col("walk"), lit(t), col("att"))), 1, 8), 16, 10)
              .cast("long") % wMax < col("w"))
          // accepted attempts keep their index, rejected shift past the
          // budget: per-walk keys are unique, so min_by is deterministic
          // and the all-rejected fallback is attempt 1's proposal
          .withColumn("key",
            when(col("acc"), col("att"))
              .otherwise(col("att") + maxAttempts))
        frontier = marked.groupBy("start", "walk")
          .agg(min_by(struct(col("node"), col("cand")), col("key"))
            .as("sel"))
          .select(col("start"), col("walk"), col("sel.node").as("prev"),
            col("sel.cand").as("node"))
          .stage()
        out = out.unionByName(frontier
          .select(col("start"), col("walk"), lit(t).as("step"),
            col("node")))
      }
      out.select(col("start"), col("walk").cast("long").as("walk"),
        col("step").cast("long").as("step"), col("node"))
    } finally adj.unpersist() // out reads only the staged per-step frontiers
  }

  /** Skip-gram positive pairs from the walk corpus: co-occurrences
    * within `window` steps on the same walk, aggregated to
    * (center, context, n_cooc). This frame IS the training set a
    * node-embedding job consumes. One self-join per walk bounded by
    * the window width (steps ≤ window apart), then a hash agg. */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val a = walks.select(col("start"), col("walk"),
      col("step").as("s1"), col("node").as("center"))
    val b = walks.select(col("start"), col("walk"),
      col("step").as("s2"), col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .filter(col("s1") =!= col("s2") &&
        abs(col("s1") - col("s2")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_cooc"))
  }
}
