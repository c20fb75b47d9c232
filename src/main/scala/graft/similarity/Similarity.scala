package graft.similarity

import graft.Staging._
import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Scale design: brute-force top-k is the correctness baseline — a
  * broadcast of the (small) query set against the full corpus, so the big
  * side streams scan-local and only k rows per (query, partition) survive
  * the partial top-k aggregation. The scale path is IVF-style coarse
  * quantization: restrict candidates to the query's cell (here the `label`
  * column stands in for a k-means cell id; at 100 TB you'd write the cell
  * id at ingest the same way) — candidate lists shrink by the number of
  * cells, and the cell column doubles as a partition key so a cell's
  * vectors are co-located.
  *
  * Dot products use `zip_with` + `aggregate` in double precision —
  * built-in higher-order functions, sequential left-to-right summation
  * (deterministic, oracle-reproducible), no UDF.
  */
object Similarity {

  /** Sequential-order dot product of two float arrays, in double.
    *
    * Resolves to the native codegen'd [[graft.functions.DotProduct]]
    * expression (registered by `graft.functions.GraftExtensions`, which
    * every engine session wires in). Bit-identical to [[dotHof]] — same
    * ascending-index double accumulation — just compiled instead of
    * interpreted. */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Spread an under-partitioned frame across the cluster's cores —
    * the guard every compute-heavy scan-local pass needs in front of a
    * small/staged source that arrives as ONE scan partition (single
    * parquet row group): without it the whole pass serializes on one
    * core. A no-op at lake scale, where partitions ≥ cores. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Higher-order-function formulation of [[dot]]: works on a vanilla
    * session with no extensions, at interpreted-lambda speed. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NULL-safe cosine: a zero-norm side yields NULL, never 0/0 —
    * which under the session's default ANSI mode is a job-killing
    * DIVIDE_BY_ZERO (and with ANSI off a NaN that sorts ABOVE every
    * real score and passes any >= threshold). NULL fails every
    * comparison and sorts last, so zero vectors fall out of rankings
    * and pair filters by construction; rankers still filter
    * `isNotNull` explicitly so a sparse candidate set can't rank
    * them. */
  def cosine(a: Column, b: Column): Column = {
    val np = norm(a) * norm(b)
    when(np > 0, dot(a, b) / np)
  }

  /** Exact maximum-inner-product top-k (MIPS): for each query vector,
    * the k corpus vectors with the largest RAW dot product — the
    * retrieval objective when magnitudes carry signal (learned
    * two-tower recommendation embeddings, unnormalized scorers), where
    * cosine's normalization would erase exactly the component the
    * model trained into the norm.
    *
    * Same scan shape as [[bruteForceTopK]]: queries broadcast, corpus
    * streamed once, per-query top-k window — at lake scale the corpus
    * side never shuffles and the output is |queries|·k.
    *
    * @return (query_id, neighbor_id, rnk, ip) — ip rounded 6dp
    */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int)
  : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("ip", dot(col("q_emb"), col("c_emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("ip"), 6).as("ip"))
  }

  /** Norm-augmentation reduction MIPS → cosine (Neyshabur–Srebro '15):
    * append one coordinate sqrt(M² − ‖x‖²) to every CORPUS vector
    * (M = the corpus max norm, one bounded scalar agg) and a 0 to every
    * QUERY vector. Every augmented corpus vector then has norm exactly
    * M, so cosine(q⁺, x⁺) = ⟨q, x⟩ / (‖q‖·M) — a per-query monotone
    * transform of the inner product. Inner-product order becomes
    * cosine order, and the ENTIRE cosine stack (LSH buckets, IVF
    * cells, PQ codes) serves MIPS unchanged — the scale path for
    * recommendation-style retrieval. `SimilaritySpec` pins
    * top-k(augmented cosine) ≡ top-k(exact MIPS).
    *
    * @return (corpus', queries') with the augmented `embedding` columns
    */
  def mipsAugment(queries: DataFrame, corpus: DataFrame)
  : (DataFrame, DataFrame) = {
    // one scalar on the driver (the Lloyd's-centroid class of collect)
    val m2 = corpus.agg(max(dot(col("embedding"), col("embedding"))))
      .head.getDouble(0)
    val corpusAug = corpus.withColumn("embedding",
      concat(col("embedding"), array(
        sqrt(greatest(lit(m2) - dot(col("embedding"), col("embedding")),
          lit(0.0))).cast("float"))))
    val queriesAug = queries.withColumn("embedding",
      concat(col("embedding"), array(lit(0.0f))))
    (queriesAug, corpusAug)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ties broken by corpus id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int)
  : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
  }

  /** Reciprocal best match (mutual nearest neighbors): pairs (a, b)
    * where b is a's cosine top-1 in B AND a is b's top-1 in A — the
    * margin-free core of bitext / translation-pair mining (Artetxe &
    * Schwenk '19 mine parallel sentences exactly this way: mutual
    * neighbors across two languages' embedding spaces) and of
    * cross-snapshot entity alignment. One-directional top-1 is noisy
    * (hubs attract everything); mutuality is the cheap symmetric
    * filter.
    *
    * Composition, not a new search: two top-1 passes and an id
    * equi-join. At 100 TB swap in [[ivfTopK]] / the LSH stack for each
    * direction and join their outputs the same way — the mutuality
    * join is top-1-output-sized (≤ |A| + |B| rows), never
    * corpus-sized.
    *
    * `crossCollection = true` (the default) means A's and B's id
    * spaces are UNRELATED: an id shared by both frames is a
    * coincidence (or the same entity across snapshots — the alignment
    * case) and must still be matchable, so no self-exclusion is
    * applied. Set it false only when A and B are the SAME collection
    * and a vector must not match itself — the [[bruteForceTopK]]
    * `neighbor_id =!= query_id` rule.
    *
    * @return (a_id, b_id, cos) — cosine rounded 6dp as in the top-k ops
    */
  def mutualBestMatch(a: DataFrame, b: DataFrame,
                      crossCollection: Boolean = true): DataFrame = {
    def top1(queries: DataFrame, corpus: DataFrame): DataFrame = {
      if (!crossCollection) bruteForceTopK(queries, corpus, 1)
      else {
        val q = queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))
        val c = corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        c.crossJoin(broadcast(q))
          .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
          .filter(col("cos").isNotNull)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 1)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cos"), 6).as("cos"))
      }
    }
    val ab = top1(a, b)
      .select(col("query_id").as("a_id"),
        col("neighbor_id").as("b_id"), col("cos"))
    val ba = top1(b, a)
      .select(col("neighbor_id").as("a_id"),
        col("query_id").as("b_id"))
    ab.join(ba, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** [[mutualBestMatch]] routed through the IVF cell machinery — the
    * form that survives 100 TB. The brute-force composition above is
    * O(|A|·|B|) with a corpus-half broadcast (fine as the small-SF
    * oracle twin, fatal at scale); here each direction's top-1 is a
    * multi-probe cell search instead:
    *
    *  - each side's stored `cellCol` assignment is the coarse
    *    quantizer (the column a 100 TB ingest writes once and
    *    partitions by — [[ivfTopK]]'s contract);
    *  - probe ranking is [[rankedProbes]]: a |cells|-row centroid
    *    broadcast, never a vector-frame broadcast;
    *  - the candidate join is pinned SHUFFLE-side (`shuffle_hash`):
    *    in mutual matching the "query" frame is itself a corpus half,
    *    so broadcasting it — what [[ivfMultiProbe]] rightly does for
    *    small query sets — would re-create exactly the corpus-half
    *    broadcast this routing removes. Both sides co-partition on
    *    the cell id, the partitioning a production deployment bakes
    *    into the lake layout;
    *  - per-direction top-1 is a partial-aggregable
    *    `max(struct(cos, -id))` — map-side combine collapses each
    *    scan partition to one row per query seen there, where a
    *    row_number window would shuffle the full candidate set.
    *
    * Candidate volume is nProbe/|cells| of |A|·|B|; every shuffle is
    * linear in the candidate set. The search is approximate exactly
    * like [[ivfMultiProbe]] (recall vs the brute twin is spec-pinned);
    * semantics are cross-collection (no self-exclusion — see
    * [[mutualBestMatch]] on why shared id values must still match).
    *
    * @return (a_id, b_id, cos) — cosine rounded 6dp as in the top-k ops
    */
  def mutualBestMatchIndexed(a: DataFrame, b: DataFrame,
                             cellCol: String, nProbe: Int): DataFrame = {
    def top1(queries: DataFrame, corpus: DataFrame): DataFrame = {
      val cells = corpus.select(col("vec_id"), col(cellCol).as("cell"))
      val probes = rankedProbes(queries, corpus, cells, nProbe)
      corpus.select(col("vec_id").as("neighbor_id"),
          col(cellCol).as("cell"), col("embedding").as("c_emb"))
        .join(probes.hint("shuffle_hash"), Seq("cell"))
        .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
        // null cos = a zero-norm side (see cosine): must not be ranked
        .filter(col("cos").isNotNull)
        // top-1 = max(struct(cos, -id)): cos desc, id asc tie-break,
        // identical to the row_number ordering the brute twin uses
        .groupBy("query_id")
        .agg(max(struct(col("cos"), (-col("neighbor_id")).as("nid")))
          .as("m"))
        .select(col("query_id"), (-col("m.nid")).as("neighbor_id"),
          col("m.cos").as("cos"))
    }
    val ab = top1(a, b)
      .select(col("query_id").as("a_id"),
        col("neighbor_id").as("b_id"), col("cos"))
    val ba = top1(b, a)
      .select(col("neighbor_id").as("a_id"),
        col("query_id").as("b_id"))
    ab.join(ba, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  /** Ratio-margin scoring for bitext mining (Artetxe & Schwenk '19,
    * §4.2 "ratio" margin): for every a ∈ A, its best match b ∈ B
    * scored by
    *
    *   margin(a,b) = cos(a,b) /
    *     ((avgᵏ cos(a, NNₖ(a,B)) + avgᵏ cos(b, NNₖ(b,A))) / 2)
    *
    * — raw cosine over-fires on HUBS (vectors close to everything);
    * dividing by the average similarity of each side's own k-neighbor
    * ball normalizes exactly that density, which is why margin beats
    * absolute-threshold mining in their benchmarks.
    *
    * Composition over the SAME index machinery as
    * [[mutualBestMatchIndexed]]: one k-NN pass per direction through
    * the cell-probed shuffle join (both frames are corpus halves —
    * never broadcast), then the margin is pure arithmetic over the
    * two top-k outputs: the per-vector denominator is a
    * partial-aggregable avg over each side's top-k rows, joined back
    * to the rank-1 pairs — every post-search frame is
    * top-k-output-sized (≤ k·(|A|+|B|) rows).
    *
    * @return (a_id, b_id, cos, margin) — cos and margin rounded 6dp;
    *         one row per a with margin ≥ `minMargin` (pass 0.0 to
    *         keep all)
    */
  def marginMiningIndexed(a: DataFrame, b: DataFrame, cellCol: String,
                          nProbe: Int, k: Int, minMargin: Double)
  : DataFrame = {
    // per-query top-k via the bounded mergeable aggregate (the
    // knnGraphIndexed discipline): both frames are corpus halves, so a
    // row_number window would re-shuffle the full candidate blow-up —
    // graft_topk caps each scan partition at k rows per query instead
    def topK(queries: DataFrame, corpus: DataFrame): DataFrame = {
      val cells = corpus.select(col("vec_id"), col(cellCol).as("cell"))
      val probes = rankedProbes(queries, corpus, cells, nProbe)
      val cand = corpus.select(col("vec_id").as("neighbor_id"),
          col(cellCol).as("cell"), col("embedding").as("c_emb"))
        .join(probes.hint("shuffle_hash"), Seq("cell"))
        .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
        // null cos = a zero-norm side (see cosine): must not be ranked
        .filter(col("cos").isNotNull)
      cand
        .groupBy("query_id")
        .agg(call_function("graft_topk", col("cos"),
          col("neighbor_id"), lit(k)).as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.id").as("neighbor_id"),
          (col("pos") + 1).cast("int").as("rnk"),
          col("col.score").as("cos"))
    }
    // both top-k outputs feed two consumers (best pair + denominator)
    val ab = topK(a, b).stage()
    val ba = topK(b, a).stage()
    // per-vector k-ball density: avg cosine over the (up to k) found
    // neighbors — partial-aggregable, top-k-output-sized
    val denA = ab.groupBy(col("query_id").as("a_id"))
      .agg(avg(col("cos")).as("den_a"))
    val denB = ba.groupBy(col("query_id").as("b_id"))
      .agg(avg(col("cos")).as("den_b"))
    ab.filter(col("rnk") === 1)
      .select(col("query_id").as("a_id"),
        col("neighbor_id").as("b_id"), col("cos"))
      .join(denA, Seq("a_id"))
      .join(denB, Seq("b_id"))
      // zero-sum denominator guard (the cosine NULL convention): a
      // degenerate ball yields NULL, which fails the >= filter —
      // never an ANSI DIVIDE_BY_ZERO
      .withColumn("margin",
        when(col("den_a") + col("den_b") =!= 0.0,
          col("cos") / ((col("den_a") + col("den_b")) / 2)))
      .filter(col("margin") >= minMargin)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"),
        round(col("margin"), 6).as("margin"))
  }

  /** IVF-style search: same contract as bruteForceTopK but candidates are
    * restricted to the query's coarse cell (`cellCol`). At scale the corpus
    * is partitioned/bucketed by the cell id, so each query probes one
    * partition instead of the full corpus. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, cellCol: String, k: Int)
  : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col(cellCol).as("cell"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col(cellCol).as("cell"), col("embedding").as("c_emb"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
  }

  /** Per-cell centroids derived from the stored assignment (posexplode
    * + avg, reassembled in pos order — exactly what an IVF index
    * persists): (cell, centroid ARRAY<DOUBLE>). Shared by the probe
    * ranking, the incremental assignment, and the index-health
    * report. */
  private def centroidsOf(corpus: DataFrame, cells: DataFrame)
  : DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .join(cells, "vec_id")
      .select(col("cell"), posexplode(col("embedding")))
      .groupBy("cell", "pos")
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** Per-query ranked probe cells — the shared front half of multi-probe
    * search: broadcast the |cells| centroid rows ([[centroidsOf]]) and
    * keep each query's `nProbe` nearest cells. Returns
    * (query_id, q_emb, cell, pr) — one row per probe, `pr` = the
    * cell's 1-based probe rank for that query (consumers that don't
    * sweep budgets just ignore it). */
  private def rankedProbes(queries: DataFrame, corpus: DataFrame,
                           cells: DataFrame, nProbe: Int): DataFrame =
    rankedProbesFrom(queries, centroidsOf(corpus, cells), nProbe)

  /** [[rankedProbes]] against an EXPLICIT centroid table (the at-rest
    * `centroids/` frame) instead of deriving one from an assignment —
    * the frozen-quantizer front half the delta-maintenance paths
    * share. Same expressions to the bit. */
  private def rankedProbesFrom(queries: DataFrame, centroids: DataFrame,
                               nProbe: Int): DataFrame = {
    val qDist = dot(col("q_emb"), col("centroid").cast("array<float>")) *
      -2 + dot(col("centroid").cast("array<float>"),
        col("centroid").cast("array<float>"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("pd"), col("cell"))
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("pd", qDist)
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cell"), col("pr"))
  }

  /** The per-cell centroid table as a public surface — exactly what
    * [[seedIvfStore]] persists under `centroids/` ([[centroidsOf]]):
    * (cell, centroid ARRAY<DOUBLE>). The frozen-quantizer delta paths
    * ([[frozenSearch]], [[knnGraphDelta]]) take this frame explicitly
    * so a caller can hand them either a freshly derived table or the
    * at-rest file. */
  def centroidTable(corpus: DataFrame, cells: DataFrame): DataFrame =
    centroidsOf(corpus, cells)

  /** Multi-probe IVF: each query searches its `nProbe` nearest cells
    * instead of one — the standard recall/latency dial. Centroids are
    * derived from the stored assignment (exactly what an IVF index
    * persists); with nProbe = |cells| this degrades gracefully to brute
    * force. Candidate volume scales with nProbe/|cells| of the corpus,
    * and the per-query cell ranking is a broadcast of |cells| rows. */
  def ivfMultiProbe(queries: DataFrame, corpus: DataFrame,
                    cells: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probes = rankedProbes(queries, corpus, cells, nProbe)
    val cand = corpus.select(col("vec_id"), col("embedding"))
      .join(cells, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("c_emb"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
  }

  /** Recall-vs-cost FRONTIER of multi-probe IVF in one pass — the
    * curve a deployment actually tunes nProbe with: for each probe
    * budget in `budgets`, recall@k against the exact brute-force truth
    * plus the candidate volume that budget paid.
    *
    * One pass over the stored assignment: probe cells are ranked ONCE
    * at max(budgets) (each probe keeps its rank `pr`), candidates are
    * scored ONCE, and every budget b then reads the same scored frame
    * through `pr <= b` — budgets share the centroid ranking and all
    * distance math instead of re-running the search per point on the
    * curve. At 100 TB the scored frame is |queries|·(probed cells)
    * rows, the exact-truth side is the [[bruteForceTopK]] small-query
    * broadcast scan, and the per-budget admission is a scan-local
    * filter over an exploded budget column.
    *
    * @return one row per budget: (n_probe, n_queries, n_exact, n_hit,
    *         recall_micro, candidates_scanned) — recall_micro =
    *         n_hit·10⁶ DIV n_exact, integer-exact for oracle hashing
    */
  def probeFrontier(queries: DataFrame, corpus: DataFrame,
                    cells: DataFrame, k: Int, budgets: Seq[Int])
  : DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ >= 1),
      s"probe budgets must be >= 1: $budgets")
    val bs = budgets.distinct.sorted
    val probes = rankedProbes(queries, corpus, cells, bs.max)
    // query-set-bounded (|queries|·probed-cells candidates ·|budgets|
    // admissions); staged because BOTH the per-budget top-k and the
    // candidate-volume rollup read it
    val scored = corpus.select(col("vec_id"), col("embedding"))
      .join(cells, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("c_emb"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
      .withColumn("n_probe",
        explode(array(bs.map(b => lit(b.toLong)): _*)))
      .filter(col("pr") <= col("n_probe"))
      .select(col("n_probe"), col("query_id"), col("neighbor_id"),
        col("cos"))
      .stage()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_probe"), col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val approx = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("n_probe"), col("query_id"), col("neighbor_id"))
    val candVolume = scored.groupBy("n_probe")
      .agg(count(lit(1)).as("candidates_scanned"))
    val exact = bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
      .stage() // truth side read by both scalar agg + hit join
    val truth = broadcast(exact
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact")))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("n_probe").agg(count(lit(1)).as("n_hit"))
    candVolume.join(hits, Seq("n_probe"), "left")
      .crossJoin(truth)
      .select(col("n_probe"), col("n_queries"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("candidates_scanned"))
      .withColumn("recall_micro",
        expr("CAST(n_hit * 1000000 DIV n_exact AS BIGINT)"))
      .select(col("n_probe"), col("n_queries"), col("n_exact"),
        col("n_hit"), col("recall_micro"), col("candidates_scanned"))
  }

  /** Matryoshka (prefix-dimension) recall curve — the OTHER retrieval
    * tuning dial next to [[probeFrontier]]'s probe budget: MRL-trained
    * embeddings (Kusupati et al. '22; the truncation modern embedding
    * APIs expose) keep their heads informative, so a deployment can
    * search on the first d coordinates and pay d/dim of the distance
    * math, storage, and cache footprint. This reports recall@k vs the
    * full-dimension truth for each prefix length in one corpus pass:
    * the (bounded) query set broadcasts once, each dim's cosine is
    * scan-local slice+dot arithmetic over the SAME joined row, and the
    * per-dim top-k windows partition by (dim, query) — top-k-output-
    * sized frames after the scan, the probeFrontier shape. The largest
    * dim anchors the curve: at d = full dimension the prefix search IS
    * the exact search, so its recall_micro is 1_000_000 by
    * construction (spec-pinned).
    *
    * @return (dim, n_queries, n_exact, n_hit, recall_micro), one row
    *         per requested prefix length */
  def prefixDimRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1),
      s"prefix dims must be >= 1: $dims")
    val spark = queries.sparkSession
    import spark.implicits._
    val ds = dims.distinct.sorted
    // a dim past the embedding length would be silently CLAMPED by
    // slice(), emitting a duplicate full-dimension row mislabeled with
    // the larger dim (and a bogus recall=1.0 anchor). The length is
    // per-row data, not schema, so validate per row: assert_true
    // inside a filter (a bare projected column could be pruned) —
    // scan-local, fails the job loudly on the first short row.
    def dimGuard(df: DataFrame, embCol: String): DataFrame =
      df.filter(assert_true(size(col(embCol)) >= ds.last,
        concat(lit(s"prefixDimRecall: requested dim ${ds.last} " +
          "exceeds embedding length "), size(col(embCol)))).isNull)
    val q = dimGuard(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), "q_emb")
    val c = dimGuard(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb")), "c_emb")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dim", explode(array(ds.map(d => lit(d)): _*)))
      .withColumn("cos", cosine(
        slice(col("q_emb"), lit(1), col("dim")),
        slice(col("c_emb"), lit(1), col("dim"))))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dim"), col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val approx = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("dim"), col("query_id"), col("neighbor_id"))
    val exact = bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
      .stage() // truth side read by both scalar agg + hit join
    val truth = broadcast(exact
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact")))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("dim").agg(count(lit(1)).as("n_hit"))
    ds.toDF("dim")
      .join(hits, Seq("dim"), "left")
      .crossJoin(truth)
      .select(col("dim"), col("n_queries"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_micro",
        expr("CAST(n_hit * 1000000 DIV n_exact AS BIGINT)"))
  }

  /** Filtered IVF search with SELECTIVITY-WIDENED probing — the
    * standard filtered-ANN trick: a metadata predicate thins each
    * probed cell to ~selectivity·|cell| candidates, so a fixed nProbe
    * silently loses recall as the filter tightens; scaling the probe
    * count by 1/selectivity restores the expected candidate volume
    * (nProbe = min(|cells|, ⌈baseNProbe / sel⌉) — at very tight
    * filters this degrades gracefully to scanning every cell of the
    * filtered corpus, which is exactly the right answer there).
    *
    * The selectivity comes from ONE aggregate over the corpus (two
    * scalars on the driver — at the lake this is a metadata/statistics
    * lookup, not a scan); centroids derive from the FULL stored
    * assignment (the index is built once, unfiltered), candidates are
    * pre-filtered before any distance math so the predicate composes
    * with the scan. Returns the exact top-k among candidates in the
    * probed cells, plus the chosen `n_probe` as a column (the recall
    * harness reports it).
    *
    * PRECONDITION: `cells` is a TOTAL assignment — exactly one row per
    * stored corpus vector. The selectivity scalars are computed over
    * corpus ⋈ cells, so a PARTIAL assignment silently skews total/pass
    * toward the assigned subset (unassigned vectors could never be
    * candidates anyway, but the widening factor would be estimated on
    * the wrong population). Duplicate assignment rows — the half of
    * the invariant a broken index build actually produces — are
    * checked loudly below at no extra scan. */
  def ivfFilteredTopK(queries: DataFrame, corpus: DataFrame,
                      cells: DataFrame, k: Int, baseNProbe: Int,
                      pred: Column): DataFrame = {
    // ONE blocking job for all four scalars (total, pass, |cells|,
    // distinct vecs) — a separate cells.distinct().count() was a whole
    // extra scan per call
    val m = corpus.join(cells, "vec_id")
      .agg(count(lit(1)).cast("long"),
        count(when(pred, 1)).cast("long"),
        countDistinct(col("cell")).cast("long"),
        countDistinct(col("vec_id")).cast("long")).head()
    val (total, pass) = (m.getLong(0), m.getLong(1))
    require(pass > 0, "filter matches no corpus vector")
    require(m.getLong(3) == total,
      s"cells assignment is not 1:1 over the corpus — ${total} joined " +
        s"rows vs ${m.getLong(3)} distinct vec_ids (duplicate " +
        "assignment rows would skew the selectivity scalars)")
    val nCells = m.getLong(2)
    val nProbe = math.min(nCells,
      (baseNProbe.toLong * total + pass - 1) / pass).toInt
    val probes = rankedProbes(queries, corpus, cells, nProbe)
    val cand = corpus.filter(pred).select(col("vec_id"), col("embedding"))
      .join(cells, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("c_emb"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"),
        lit(nProbe.toLong).as("n_probe"))
  }

  /** IVF index HEALTH report — the retrain trigger a deployment
    * monitors: per cell, its population and mean squared L2 distance
    * to the stored centroid (quantization error). Drift shows up as
    * (a) cell-size skew — a hot cell degrades every probe that ranks
    * it — and (b) rising quantization error as the data distribution
    * walks away from the centroids the quantizer was trained on; both
    * are cheap scalars per cell, read off ONE corpus scan against the
    * |cells|-row centroid broadcast (d² = ⟨x,x⟩ − 2⟨x,c⟩ + ⟨c,c⟩ —
    * scan-local arithmetic, partial-aggregable rollup). When the
    * report trips a threshold, [[kmeansCells]] retrains at
    * snapshot time — never per batch ([[assignToCells]]'s contract).
    *
    * @return (cell, n_vecs, mean_d2) — mean_d2 rounded 6dp */
  def ivfHealth(corpus: DataFrame, cells: DataFrame): DataFrame = {
    val cents = centroidsOf(corpus, cells)
    val cf = col("centroid").cast("array<float>")
    corpus.select(col("vec_id"), col("embedding"))
      .join(cells, "vec_id")
      .join(broadcast(cents), Seq("cell"))
      .withColumn("d2",
        dot(col("embedding"), col("embedding"))
          - dot(col("embedding"), cf) * 2 + dot(cf, cf))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("d2")), 6).as("mean_d2"))
  }

  /** INCREMENTAL IVF assignment maintenance: give ARRIVING vectors the
    * cell id the stored index would — centroids derive from the
    * EXISTING assignment (exactly what the index persists; the same
    * float-rounded, double-accumulated path as [[rankedProbes]]) and
    * each arrival goes to its argmin cell, ties toward the lower cell
    * id (the [[kmeansCells]] rule). The index is never retrained per
    * batch — the standard IVF ingest contract (retrain / rebalance is
    * a snapshot-time job, like the SA rebuild on the dedup side).
    * Cost per batch: one |cells|-row centroid broadcast + one scan of
    * the arrivals; the stored corpus is touched only by the bounded
    * centroid aggregate.
    *
    * @return (vec_id, cell) for the arrivals — union with the stored
    *         assignment for the merged index view */
  def assignToCells(arrivals: DataFrame, corpus: DataFrame,
                    cells: DataFrame): DataFrame =
    rankedProbes(arrivals, corpus, cells, nProbe = 1)
      .select(col("query_id").as("vec_id"), col("cell"))

  /** Persist the IVF index's TWO at-rest artifacts — the (vec_id, cell)
    * assignment and the |cells|-row centroid table — under `path`
    * (`assignment/`, `centroids/`). This is the snapshot a STREAMING
    * ingest restores from ([[graft.streaming.Streams.annMaintainStream]]):
    * arrivals are assigned against the STORED centroid frame, so per-batch
    * cost is |batch|·|cells| scan-local distance math with no corpus
    * access at all — the corpus contributes only once, here, at
    * snapshot-build time. */
  def seedIvfStore(corpus: DataFrame, cellCol: String,
                   path: String): Unit = {
    val cells = corpus.select(col("vec_id"), col(cellCol).as("cell"))
    cells.write.mode("overwrite").parquet(s"$path/assignment")
    centroidsOf(corpus.select(col("vec_id"), col("embedding")), cells)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** [[assignToCells]] against a STORED centroid frame (the
    * `centroids/` table [[seedIvfStore]] writes) instead of deriving
    * centroids from the corpus: the form a continuous ingest uses,
    * where the corpus is not re-scanned per batch. Same math to the
    * bit — float-rounded centroids, double accumulation, argmin with
    * ties toward the lower cell id — so an arrival gets the identical
    * cell either way (spec-pinned). Frozen-quantizer assignment is
    * also what makes streamed results batch-slicing-invariant: a
    * vector's cell depends only on itself and the snapshot.
    *
    * @return (vec_id, cell) for the arrivals */
  def assignToStoredCells(arrivals: DataFrame,
                          centroids: DataFrame): DataFrame = {
    val cf = col("centroid").cast("array<float>")
    val d = dot(col("embedding"), cf) * -2 + dot(cf, cf)
    // argmin by (distance, cell) as a partial-aggregable min(struct):
    // map-side combine collapses each scan partition to one row per
    // vec_id seen there — a row_number window would shuffle the full
    // |batch|·|cells| scored frame. Struct ordering is (pd, cell)
    // lexicographic: the same distance-then-lower-cell rule as
    // rankedProbes(nProbe = 1).
    arrivals.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("pd", d)
      .groupBy("vec_id")
      .agg(min(struct(col("pd"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"))
  }

  /** Snapshot REBUILD-AND-SWAP — the retrain phase that completes the
    * index lifecycle ([[seedIvfStore]] builds, [[assignToCells]] /
    * [[graft.streaming.Streams.annMaintainStream]] maintain,
    * [[ivfHealth]] monitors, THIS retrains): when the store's health
    * crosses a threshold, recompute centroids from the CURRENT merged
    * assignment (one Lloyd update — the standard IVF retrain step),
    * re-assign every vector against the new centroids, and swap the
    * at-rest snapshot.
    *
    * Health gate (computed against the STORED centroid table — the
    * distances probes actually pay, not re-derived ones): corpus-wide
    * mean squared quantization error and population skew
    * (max cell / mean cell). Rebuild fires iff
    * `meanD2 > maxMeanD2 || skew > maxSkew`; otherwise the store is
    * untouched and (false, meanD2, skew) reports why.
    *
    * Swap protocol: the new `assignment/` + `centroids/` are STAGED
    * fully under `rebuild_tmp/` (re-assignment runs against the
    * WRITTEN tmp centroid file, so consumers replay bit-identically),
    * then the old snapshot renames to `prev/` (kept for rollback) and
    * the staged dirs rename into place — metadata-only moves, the
    * grow-by-append analog of the
    * [[graft.streaming.Streams]].compactStore convention. An
    * `assignment_delta/` log, if present, is FOLDED into the merged
    * assignment before retraining and retired to `prev/` with the
    * snapshot it extended (precondition: log ids are disjoint from
    * the base's — the annMaintainStream contract — and replay
    * duplicates within the log are identical rows). The few-ms window
    * between the two renames is documented, not hidden: a production
    * deployment fronts the path with a catalog pointer; readers here
    * are batch jobs that re-list on start.
    *
    * `vectors` must cover every assigned vec_id (the store persists
    * no embeddings) — checked loudly before anything mutates.
    *
    * @return (rebuilt, mean_d2, skew) — the gate's inputs either way */
  def rebuildIvfStore(vectors: DataFrame, storePath: String,
                      maxMeanD2: Double,
                      maxSkew: Double = Double.MaxValue)
  : (Boolean, Double, Double) = {
    val spark = vectors.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$storePath/$s")
    val hasDelta = fs.exists(p("assignment_delta"))
    val base = Parquet.read(spark, s"$storePath/assignment")
      .select(col("vec_id"), col("cell"))
    // merged view: base ∪ delta log, one row per vec_id (crash-replay
    // duplicates in the log are identical rows — frozen centroids —
    // so min() absorbs them exactly)
    val merged = (if (!hasDelta) base
      else base.unionByName(
        Parquet.read(spark, s"$storePath/assignment_delta")
          .select(col("vec_id"), col("cell"))))
      .groupBy("vec_id").agg(min(col("cell")).as("cell"))
    val uncovered = merged
      .join(vectors.select("vec_id"), Seq("vec_id"), "left_anti").count()
    require(uncovered == 0L,
      s"rebuildIvfStore: $uncovered assigned vec_ids have no embedding " +
        "row in `vectors` — a rebuild would silently drop them from " +
        "the index")
    // health against the STORED centroids — what probes actually pay
    val storedCents = Parquet.read(spark, s"$storePath/centroids")
    val cf = col("centroid").cast("array<float>")
    val perCell = vectors.select(col("vec_id"), col("embedding"))
      .join(merged, "vec_id")
      .join(broadcast(storedCents), Seq("cell"))
      .withColumn("d2", dot(col("embedding"), col("embedding"))
        - dot(col("embedding"), cf) * 2 + dot(cf, cf))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
    val h = perCell
      .agg((sum(col("sd2")) / sum(col("n"))).as("mean_d2"),
        (max(col("n")) / avg(col("n"))).as("skew")).head()
    val (meanD2, skew) = (h.getDouble(0), h.getDouble(1))
    if (meanD2 <= maxMeanD2 && skew <= maxSkew)
      return (false, meanD2, skew)
    // STAGE the new snapshot fully before touching the live dirs
    val tmp = s"$storePath/rebuild_tmp"
    fs.delete(p("rebuild_tmp"), true)
    centroidsOf(vectors.select(col("vec_id"), col("embedding")), merged)
      .write.mode("overwrite").parquet(s"$tmp/centroids")
    assignToStoredCells(vectors.select(col("vec_id"), col("embedding")),
        Parquet.read(spark, s"$tmp/centroids"))
      .write.mode("overwrite").parquet(s"$tmp/assignment")
    // SWAP: old snapshot → prev/ (rollback copy), staged → live
    fs.delete(p("prev"), true)
    fs.mkdirs(p("prev"))
    Seq("assignment", "centroids").foreach(sub =>
      fs.rename(p(sub), p(s"prev/$sub")))
    if (hasDelta) fs.rename(p("assignment_delta"),
      p("prev/assignment_delta")) // folded into the new snapshot
    Seq("centroids", "assignment").foreach(sub =>
      fs.rename(p(s"rebuild_tmp/$sub"), p(sub)))
    fs.delete(p("rebuild_tmp"), true)
    (true, meanD2, skew)
  }

  /** k-NN GRAPH over ONE collection — every vector's k nearest OTHER
    * vectors, routed through the stored IVF assignment. The kNN graph
    * is the workhorse input of semantic-cluster analyses (SemDeDup-style
    * cluster structure, mutual-kNN clustering, graph-based outlier
    * scores), and it is the worst possible all-pairs temptation: the
    * brute form is O(n²) over the whole corpus with the corpus itself
    * as the "query set", so — exactly like [[mutualBestMatchIndexed]] —
    * nothing corpus-sized may be broadcast or cross-joined. Probe
    * ranking is [[rankedProbes]] (|cells|-row centroid broadcast), the
    * candidate join is pinned `shuffle_hash` co-partitioned on the
    * cell id, self-pairs are excluded, and the per-query top-k is the
    * BOUNDED mergeable native aggregate `graft_topk`
    * ([[graft.functions.TopKExpr]]) — the max(struct) top-1 trick
    * generalized to k: map-side combine caps every scan partition's
    * contribution at k rows per query, so the ranking exchange moves
    * ~the OUTPUT, not the nProbe/|cells|-of-n² candidate blow-up a
    * row_number window would re-shuffle ([[graft.functions.TopKAgg]]
    * is the udaf twin; native ≡ udaf ≡ window spec-pinned). With
    * nProbe = |cells| this degrades gracefully to the exact self-kNN
    * of [[bruteForceTopK]] (spec-pinned).
    *
    * @return (query_id, neighbor_id, rnk, cos) — cos rounded 6dp */
  def knnGraphIndexed(vectors: DataFrame, cellCol: String, nProbe: Int,
                      k: Int): DataFrame = {
    val cells = vectors.select(col("vec_id"), col(cellCol).as("cell"))
    val probes = rankedProbes(vectors, vectors, cells, nProbe)
    val cand = vectors.select(col("vec_id").as("neighbor_id"),
        col(cellCol).as("cell"), col("embedding").as("c_emb"))
      .join(probes.hint("shuffle_hash"), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
    cand
      .groupBy("query_id")
      // native bounded top-k (graft_topk TypedImperativeAggregate —
      // primitive-array buffers, byte-buffer partials; the udaf twin
      // TopKAgg is the spec-pinned equivalence baseline)
      .agg(call_function("graft_topk", col("cos"), col("neighbor_id"),
        lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        round(col("col.score"), 6).as("cos"))
  }

  /** FROZEN-QUANTIZER kNN search: each query's top-k over `corpus`,
    * routed through an EXPLICIT (cells, centroids) snapshot — the
    * generalized core of [[knnGraphIndexed]] (which derives both from
    * the corpus itself) that the incremental paths need: probe ranking
    * and candidate matching both use the stored quantizer, so results
    * depend only on (queries, corpus, snapshot) — never on when the
    * quantizer was last retrained mid-stream. Candidate volume is
    * nProbe/|cells| of |Q|·|corpus|, the candidate join is pinned
    * `shuffle_hash` co-partitioned on the cell id, and the per-query
    * ranking is the bounded `graft_topk` aggregate.
    *
    * Returns RAW (unrounded) cos — [[knnGraphDelta]]'s merge must
    * compare exact doubles; round at the presentation edge. */
  def frozenSearch(queries: DataFrame, corpus: DataFrame,
                   cells: DataFrame, centroids: DataFrame,
                   nProbe: Int, k: Int): DataFrame = {
    val probes = rankedProbesFrom(queries, centroids, nProbe)
    val cand = corpus
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"))
      .join(cells.select(col("vec_id").as("neighbor_id"), col("cell")),
        Seq("neighbor_id"))
      .join(probes.hint("shuffle_hash"), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
    cand
      .groupBy("query_id")
      .agg(call_function("graft_topk", col("cos"), col("neighbor_id"),
        lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("col.score").as("cos"))
  }

  /** INCREMENTAL kNN-GRAPH maintenance — the delta path that was
    * missing from the maintenance family (assignment:
    * [[assignToCells]], SA report: deltaDupPositions, CC labels:
    * incrementalComponents, co-support: the graph delta patch; the
    * kNN graph itself was rebuild-only): fold a batch of ARRIVING
    * vectors into an at-rest kNN graph without re-running the
    * n²-shaped candidate search over the old corpus.
    *
    * Under the frozen quantizer ([[frozenSearch]]'s contract — probe
    * cells and candidate cells both come from the stored snapshot),
    * an arrival batch can change the graph in exactly two ways:
    * arrivals gain their own top-k rows (one frozen search of
    * |delta| queries over corpus ∪ delta), and an existing query's
    * top-k can only CHANGE by an arrival entering it — its old
    * candidates are already summarized by its stored top-k, and
    * top-k is a mergeable summary: top-k(top-k(old) ∪ new) =
    * top-k(old ∪ new). So the patch re-scores the stored edges (k·|Q|
    * rows — the stored cos is rounded 6dp, and the merge must compare
    * exact doubles), scores old queries only against arrivals landing
    * in their probed cells (|Q|·nProbe/|cells|·|delta| candidates —
    * delta-scaled, never |Q|·|corpus|), and re-takes k with the same
    * bounded aggregate. Result ≡ the from-scratch [[frozenSearch]]
    * over corpus ∪ arrivals with the same snapshot (spec-pinned).
    *
    * Preconditions, checked loudly: arrival ids are DISJOINT from the
    * corpus (the [[graft.streaming.Streams.annMaintainStream]]
    * convention — a re-ingest arrives under a new id). `oldGraph`
    * must be the frozen-search graph of (corpus, cells, centroids) at
    * the same (nProbe, k) — not cheaply checkable, documented.
    *
    * @return (query_id, neighbor_id, rnk, cos) over corpus ∪
    *         arrivals — cos rounded 6dp (the [[knnGraphIndexed]]
    *         presentation convention) */
  def knnGraphDelta(oldGraph: DataFrame, corpus: DataFrame,
                    cells: DataFrame, centroids: DataFrame,
                    arrivals: DataFrame, nProbe: Int, k: Int)
  : DataFrame = {
    val corpusVecs = corpus.select(col("vec_id"), col("embedding"))
    val arrVecs = arrivals.select(col("vec_id"), col("embedding"))
    val overlap = arrVecs.select("vec_id")
      .join(corpusVecs.select("vec_id"), Seq("vec_id"), "left_semi")
      .count()
    require(overlap == 0L,
      s"knnGraphDelta: $overlap arrival vec_ids already exist in the " +
        "corpus — an update under an old id belongs to the snapshot " +
        "rebuild, not the delta patch")
    // arrivals enter the snapshot under frozen cells
    val arrCells = assignToStoredCells(arrVecs, centroids)
    val unionVecs = corpusVecs.unionByName(arrVecs)
    val unionCells = cells.select(col("vec_id"), col("cell"))
      .unionByName(arrCells)
    // (1) arrivals as queries: one |delta|-query frozen search
    val arrEdges = frozenSearch(arrVecs, unionVecs, unionCells,
      centroids, nProbe, k)
    // (2) old queries vs the DELTA only: candidates are arrivals in
    // each query's probed cells — |Q|·nProbe/|cells|·|delta| rows
    val probes = rankedProbesFrom(corpusVecs, centroids, nProbe)
    val newCand = arrVecs
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"))
      .join(arrCells.select(col("vec_id").as("neighbor_id"),
        col("cell")), Seq("neighbor_id"))
      .join(probes.hint("shuffle_hash"), Seq("cell"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .filter(col("cos").isNotNull)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    // (3) stored edges re-scored at full precision: k·|Q| rows, two
    // co-partitioned linear joins — output-sized, not candidate-sized
    val oldRescored = oldGraph
      .select(col("query_id"), col("neighbor_id"))
      .join(corpusVecs.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), Seq("query_id"))
      .join(corpusVecs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .filter(col("cos").isNotNull)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    val patched = oldRescored.unionByName(newCand)
      .groupBy("query_id")
      .agg(call_function("graft_topk", col("cos"), col("neighbor_id"),
        lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("col.score").as("cos"))
    patched.unionByName(arrEdges)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
  }

  /** MUTUAL edges of a kNN graph: unordered pairs {a, b} where b is in
    * a's top-k AND a is in b's top-k — the standard edge filter that
    * turns a directed kNN graph into the undirected graph semantic
    * clustering runs connected components over (mutual-kNN clustering;
    * hubs that everyone points at but that point elsewhere drop out).
    * Each direction contributes the unordered pair at most once, so
    * mutuality is exactly `count = 2` after canonical ordering — one
    * linear groupBy over the (top-k-output-sized) graph, no self-join.
    *
    * @param g a [[knnGraphIndexed]] result (query_id, neighbor_id, …)
    * @return (a, b) with a < b, one row per mutual pair */
  def mutualKnnEdges(g: DataFrame): DataFrame =
    g.select(
        least(col("query_id"), col("neighbor_id")).as("a"),
        greatest(col("query_id"), col("neighbor_id")).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_dir"))
      .filter(col("n_dir") === 2)
      .select(col("a"), col("b"))

  /** Deterministic mini k-means coarse quantizer — builds the IVF cell
    * assignment when no precomputed cell column exists. Init is the k
    * lowest-id vectors (no RNG), each Lloyd iteration is one broadcast of
    * the k centroids + one groupBy: at 100 TB the per-iteration cost is a
    * scan + a k-row shuffle, and the final assignment is written once as
    * the partition/bucket column.
    *
    * Returns (vec_id, cell). Ties in distance break toward the lower
    * centroid id, so assignments are reproducible across runs/cluster
    * sizes. */
  def kmeansCells(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    // every Lloyd iteration re-reads the vectors for k×n distance math;
    // spread them across the cluster once and pin the result so each
    // iteration starts from the spread copy instead of the (possibly
    // one-row-group) source scan
    val v = spread(vectors.select(col("vec_id"), col("embedding")))
      .stage()

    import spark.implicits._

    var centroids = v.orderBy("vec_id").limit(k)
      .select(col("embedding").cast("array<double>"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }

    def assign(cs: Array[(Int, Seq[Double])]): DataFrame = {
      val cDf = broadcast(cs.toSeq.toDF("cell", "centroid"))
      // ||x-c||^2 argmin == (-2<x,c> + <c,c>) argmin; <x,x> is constant
      // per x. Centroids round through float so the distance matches what
      // a float-stored centroid file would give.
      val dist = dot(col("embedding"),
        col("centroid").cast("array<float>")) * -2 +
        dot(col("centroid").cast("array<float>"),
          col("centroid").cast("array<float>"))
      v.crossJoin(cDf)
        .withColumn("d", dist)
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cell"))).as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"))
    }

    (1 until iters).foreach { _ =>
      val dim = centroids.head._2.length
      val newC = v.join(assign(centroids), "vec_id")
        .select(col("cell"), col("embedding").cast("array<double>")
          .as("e"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(j =>
            sum(element_at(col("e"), j + 1))): _*).as("sums"))
        .select(col("cell"),
          transform(col("sums"), s => s / col("n")).as("centroid"))
        .as[(Int, Seq[Double])].collect()
      if (newC.nonEmpty) centroids = newC
    }
    assign(centroids)
  }

  // ---- product quantization (IVF-PQ's compressed-domain half) -----------

  /** Subvector view for product quantization: each vector split into `m`
    * contiguous subspaces of dim/m components — one row per
    * (vec_id, subspace). Spread + checkpointed once; codebook training,
    * encoding, and scoring all reuse this frame. */
  def pqSubvectors(vectors: DataFrame, dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    val v = spread(vectors.select(col("vec_id"), col("embedding")))
    v.select(col("vec_id"), explode(array((0 until m).map(j =>
        struct(lit(j).as("sub"),
          slice(col("embedding"), j * subLen + 1, subLen).as("sv"))): _*))
        .as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
      .stage()
  }

  /** Per-subspace deterministic Lloyd codebook: `ksub` centroids per
    * subspace, trained jointly in ONE pipeline keyed by (sub, code) — m
    * independent k-means runs cost the same scans as one. Init is the
    * `ksub` lowest-id vectors' subvectors (no RNG, like [[kmeansCells]]);
    * each round is one broadcast of the m·ksub centroids + one
    * groupBy((vec_id, sub)) argmin + one groupBy((sub, code)) mean —
    * at 100 TB: a scan plus two bounded shuffles per round, and only
    * m·ksub rows ever reach the driver.
    *
    * @return (sub, code, centroid: array<double>) — m·ksub rows */
  def pqCodebook(svs: DataFrame, subLen: Int, ksub: Int,
                 rounds: Int): DataFrame = {
    val spark = svs.sparkSession
    import spark.implicits._
    val initIds = svs.select("vec_id").distinct()
      .orderBy("vec_id").limit(ksub).as[Long].collect()
    val idRank = initIds.sorted.zipWithIndex.toMap
    var centroids: Array[(Int, Int, Seq[Double])] = svs
      .filter(col("vec_id").isin(initIds: _*))
      .select(col("vec_id"), col("sub"),
        col("sv").cast("array<double>").as("c"))
      .collect()
      .map(r => (r.getInt(1), idRank(r.getLong(0)), r.getSeq[Double](2)))

    def cbDf(cs: Array[(Int, Int, Seq[Double])]): DataFrame =
      cs.toSeq.toDF("sub", "code", "centroid")

    (1 until rounds).foreach { _ =>
      val upd = svs.join(pqAssign(svs, cbDf(centroids)),
          Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          col("sv").cast("array<double>").as("e"))
        .groupBy("sub", "code")
        .agg(count(lit(1)).as("n"),
          array((0 until subLen).map(j =>
            sum(element_at(col("e"), j + 1))): _*).as("sums"))
        .select(col("sub"), col("code"),
          transform(col("sums"), s => s / col("n")).as("centroid"))
        .as[(Int, Int, Seq[Double])].collect()
      if (upd.nonEmpty) centroids = upd
    }
    cbDf(centroids)
  }

  /** Nearest codebook entry per (vec_id, subspace) — the PQ ENCODE step.
    * Centroids round through float before the distance (what a
    * float-stored codebook file gives), ties break toward the lower code,
    * so codes are reproducible across runs and engines. */
  def pqAssign(svs: DataFrame, codebook: DataFrame): DataFrame = {
    val dist = dot(col("sv"), col("centroid").cast("array<float>")) * -2 +
      dot(col("centroid").cast("array<float>"),
        col("centroid").cast("array<float>"))
    svs.join(broadcast(codebook), Seq("sub"))
      .withColumn("d", dist)
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d"), col("code"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.code").as("code"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds an
    * m·ksub lookup table of partial dots against the codebook, and a
    * corpus vector's approximate cosine is assembled from its m codes —
    * the corpus side is scanned as SMALL INTS (the 100 TB point of PQ:
    * ~m bytes/vector in flight instead of 4·dim), never as vectors.
    *
    * cos(q, x̂) = Σ_j <q_j, c_{j,code_j}> / (‖q‖ · √Σ_j ‖c_{j,code_j}‖²)
    * — exact for the reconstruction x̂, since subspaces are orthogonal.
    *
    * LUT partials are quantized to integer micros BEFORE the per-vector
    * summation (like the unigram-logprob pipeline): the m-way sum is then
    * integer math — independent of aggregation order and engine, which
    * keeps ranks and the correctness-gate hash stable.
    *
    * @param codes  (vec_id, sub, code) from [[pqAssign]]
    * @return (query_id, neighbor_id, rnk, pq_score) top-k per query */
  def pqTopK(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
             subLen: Int, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q"))
    val lut = q.crossJoin(broadcast(codebook))
      .withColumn("qsv",
        slice(col("q"), col("sub") * subLen + lit(1), lit(subLen)))
      .select(col("query_id"), col("sub"), col("code"),
        round(dot(col("qsv"), col("centroid").cast("array<float>")) * 1e6)
          .cast("long").as("pdot_micro"),
        round(dot(col("centroid").cast("array<float>"),
          col("centroid").cast("array<float>")) * 1e6)
          .cast("long").as("pn2_micro"))
    val qn = q.select(col("query_id"), norm(col("q")).as("qnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("pdot_micro")).as("adot_micro"),
        sum(col("pn2_micro")).as("an2_micro"))
      .filter(col("vec_id") =!= col("query_id"))
      // an all-zero reconstruction (an2 = 0) has no direction, so it
      // cannot be cosine-ranked — drop it explicitly instead of letting
      // 0/0 → NaN misrank (NaN sorts above every real score in Spark's
      // descending order)
      .filter(col("an2_micro") > 0)
      // qnorm > 0: a zero-norm QUERY would score NaN for every
      // neighbor (the mirror of the an2 > 0 corpus-side guard; int8TopK
      // filters both sides the same way)
      .join(broadcast(qn.filter(col("qnorm") > 0)), Seq("query_id"))
      .withColumn("score", (col("adot_micro") / 1e6) /
        (col("qnorm") * sqrt(col("an2_micro") / 1e6)))
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("score"), 6).as("pq_score"))
  }

  /** IVF-PQ search — the production ANN shape (Jégou et al. '11): a
    * coarse cell restricts WHICH vectors are scored, the PQ codes decide
    * HOW cheaply. The LUT rows carry the query's cell, so the ADC join
    * key (cell, sub, code) structurally excludes out-of-cell corpus
    * codes — candidate volume is |cell|·m, never corpus·m, and no
    * full-precision vector is touched after the LUT build.
    *
    * `queries`: (vec_id, embedding, cell); `corpusCells`: (vec_id, cell)
    * — at scale both the codes and the cell map are co-partitioned (or
    * bucketed) by vec_id, so attaching the cell is a zero-exchange join.
    */
  def ivfPqTopK(queries: DataFrame, corpusCells: DataFrame,
                codes: DataFrame, codebook: DataFrame, subLen: Int,
                k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("cell"),
      col("embedding").as("q"))
    val lut = q.crossJoin(broadcast(codebook))
      .withColumn("qsv",
        slice(col("q"), col("sub") * subLen + lit(1), lit(subLen)))
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        round(dot(col("qsv"), col("centroid").cast("array<float>")) * 1e6)
          .cast("long").as("pdot_micro"),
        round(dot(col("centroid").cast("array<float>"),
          col("centroid").cast("array<float>")) * 1e6)
          .cast("long").as("pn2_micro"))
    // dropDuplicates: multi-probe callers pass one query row per probed
    // cell — the norm is per query, not per probe
    val qn = q.select(col("query_id"), norm(col("q")).as("qnorm"))
      .dropDuplicates("query_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    codes.join(corpusCells, Seq("vec_id"))
      .join(broadcast(lut), Seq("cell", "sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("pdot_micro")).as("adot_micro"),
        sum(col("pn2_micro")).as("an2_micro"))
      .filter(col("vec_id") =!= col("query_id"))
      // same zero-norm guard as pqTopK: an2 = 0 ⇒ no direction ⇒ drop
      // rather than 0/0 → NaN (which would sort above real scores)
      .filter(col("an2_micro") > 0)
      // qnorm > 0: a zero-norm QUERY would score NaN for every
      // neighbor (the mirror of the an2 > 0 corpus-side guard; int8TopK
      // filters both sides the same way)
      .join(broadcast(qn.filter(col("qnorm") > 0)), Seq("query_id"))
      .withColumn("score", (col("adot_micro") / 1e6) /
        (col("qnorm") * sqrt(col("an2_micro") / 1e6)))
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("score"), 6).as("pq_score"))
  }

  /** Multi-probe IVF-PQ — the production ANN path with its recall dial:
    * [[rankedProbes]] picks each query's `nProbe` nearest cells from the
    * stored assignment's centroids, then [[ivfPqTopK]] runs the ADC join
    * with the query replicated once per probed cell (the LUT rows carry
    * the probe cell, so candidate volume is nProbe·|cell|·m per query).
    * nProbe = |cells| degrades gracefully to full PQ search.
    *
    * `cells`: (vec_id, cell) — the stored coarse assignment, used both
    * for centroid derivation and to restrict candidates. */
  def ivfPqMultiProbe(queries: DataFrame, corpus: DataFrame,
                      cells: DataFrame, codes: DataFrame,
                      codebook: DataFrame, subLen: Int, k: Int,
                      nProbe: Int): DataFrame = {
    val probes = rankedProbes(queries, corpus, cells, nProbe)
      .select(col("query_id").as("vec_id"),
        col("q_emb").as("embedding"), col("cell"))
    ivfPqTopK(probes, cells, codes, codebook, subLen, k)
  }

  /** Random-hyperplane LSH bucket id (Charikar '02 cosine LSH): sign bits
    * of projections onto `numPlanes` deterministic pseudo-random planes.
    * Plane component j of plane p is derived from md5(p:j) → uniform in
    * [-0.5, 0.5) — deterministic across engines and runs, no RNG state.
    * Vectors sharing a bucket are cosine-similar with high probability;
    * candidate pairs come from a bucket self-join (same shape as
    * MinHash-LSH banding).
    */
  /** Plane component u(p, j): md5-derived uniform in [-0.5, 0.5).
    * Computed on the DRIVER at plan-build time — same bytes as the SQL
    * oracle's `('0x'||substr(md5(p||':'||j),1,6))::BIGINT/16777216.0-0.5`,
    * but the expression tree carries plain double literals instead of 512
    * `conv(md5(...))` subtrees (an order of magnitude off the analysis /
    * codegen time of the embedding queries). */
  private def planeComponent(p: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 6)
    java.lang.Long.parseLong(hex, 16).toDouble / 16777216.0 - 0.5
  }

  /** Bucket id for one hash table: sign bits of `numPlanes` projections,
    * planes indexed globally from `planeOffset` (table t of an
    * OR-construction uses offset t·numPlanes, so every table draws
    * distinct planes).
    *
    * This is the driver-literal REFERENCE formulation — it inlines
    * planes·dim literal multiply terms into the plan, whose analysis +
    * codegen cost dominates at 24×64 terms. The engine path is the
    * native [[graft.functions.LshBuckets]] expression
    * (`graft_lsh_buckets`), bit-identical (same md5-derived components,
    * same ascending-j double fold; equivalence-tested in
    * SimilaritySpec). */
  def hyperplaneBucket(emb: Column, dim: Int, numPlanes: Int,
                       planeOffset: Int = 0): Column = {
    val bits = (0 until numPlanes).map { p =>
      val proj = (0 until dim).map { j =>
        element_at(emb, j + 1).cast("double") *
          lit(planeComponent(planeOffset + p, j))
      }.reduce(_ + _)
      when(proj >= 0, lit(1)).otherwise(lit(0)).cast("string")
    }
    concat(bits: _*)
  }

  /** Embedding near-dup pairs: cosine ≥ threshold among candidates from
    * `numTables` independent hyperplane tables OR'd together (candidate =
    * same bucket in ANY table), then exactly verified.
    *
    * One table is not enough: P(same bucket | θ) = (1−θ/π)^planes — at
    * cos 0.95 a single 8-plane table keeps only ~43% of true pairs. The
    * OR-construction drives the miss rate down exponentially in the
    * number of tables (4 tables × 6 planes ⇒ recall ≈ 95% at cos 0.95,
    * higher for closer pairs — asserted against brute force in
    * SimilaritySpec), while each table's bucket join stays selective.
    * Per-table candidates are unioned via the posexplode below and
    * deduped BEFORE the cosine verify, so a pair colliding in several
    * tables is verified once. */
  def cosineNearDupPairs(vectors: DataFrame, dim: Int, numTables: Int,
                         planesPerTable: Int, threshold: Double)
  : DataFrame = {
    // staged once: the bucket explode and both verify joins read it.
    // Buckets come from the native scan-local expression — one plan node
    // instead of a numTables·planes·dim literal tree
    val staged = vectors.select(col("vec_id"), col("embedding"),
      call_function("graft_lsh_buckets", col("embedding"),
        lit(numTables), lit(planesPerTable)).as("buckets"))
      .stage()
    val tabled = staged.select(col("vec_id"),
      posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val cands = tabled.select(col("tbl"), col("bucket"),
        col("vec_id").as("vec_a"))
      .join(tabled.select(col("tbl"), col("bucket"),
        col("vec_id").as("vec_b")), Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    cands
      .join(staged.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a")), Seq("vec_a"))
      .join(staged.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("vec_b"))
      .withColumn("cos", cosine(col("emb_a"), col("emb_b")))
      // a zero-norm vector (bucket '111…', colliding with everything)
      // has NULL cosine, which fails >= — no pair emitted
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. '23): cluster the embedding
    * space, compare vectors only WITHIN their cluster, and drop all but
    * one of every pair above the cosine threshold — the embedding-side
    * analog of near-dup text dedup, used to prune paraphrases and
    * templated boilerplate that lexical dedup can't see.
    *
    * The keep rule is deterministic: a vector is dropped iff it is the
    * HIGHER id of some qualifying pair, so each duplicate chain keeps
    * exactly its lowest id — no RNG, no order dependence, and the rule
    * is one distinct + one anti-join on top of the pair set.
    *
    * Scale contract: the within-cluster self-join is quadratic in the
    * largest cluster, which is exactly the knob the SemDeDup recipe turns
    * — cluster with k ∝ √N cells ([[kmeansCells]] supplies `cellCol` when
    * the data carries none), so expected block size is √N and total
    * candidate volume ≈ N^1.5 / k ≈ N — the same bounded-block argument
    * as LSH banding, but with the block structure learned from the
    * embedding geometry instead of hashed.
    *
    * A BAD clustering must not melt a reducer, though: any cell larger
    * than `maxBlock` is salted into s = ⌈size/maxBlock⌉ sub-cells and
    * its pairs are produced per sub-cell PAIR-block (i ≤ j) — row u with
    * salt u joins blocks (u, j≥u) on the a-side and (i≤u, u) on the
    * b-side, so every unordered pair lands in exactly one block and the
    * result is lossless while the largest join task is ~2·maxBlock rows
    * spread over s² tasks. Normal cells get s = 1, which degenerates to
    * the plain within-cell self-join.
    *
    * Returns the KEPT rows as (vec_id, cell). */
  def semDedup(vectors: DataFrame, cellCol: String, threshold: Double,
               maxBlock: Int = 10000): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1,1], got $threshold")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val v = vectors.select(col("vec_id"), col(cellCol).as("cell"),
      col("embedding"))
    // per-cell sub-split factor: 1 for well-behaved cells (the common
    // case), ⌈size/maxBlock⌉ for hot ones. One tiny agg (a row per cell)
    // joined back — AQE picks broadcast when the cell count allows.
    val sizes = v.groupBy("cell")
      .agg(ceil(count(lit(1)).cast("double") / maxBlock).cast("int")
        .as("__s"))
    // staged once: BOTH pair-block sides read this frame — without the
    // pin each side would re-run the corpus scan + size join
    val salted = v.join(sizes, Seq("cell"))
      .withColumn("__salt",
        pmod(xxhash64(col("vec_id")), col("__s")).cast("int"))
      .stage()
    val aSide = salted
      .withColumn("__j",
        explode(sequence(col("__salt"), col("__s") - 1)))
      .select(col("cell"), col("__salt").as("__i"), col("__j"),
        col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val bSide = salted
      .withColumn("__i", explode(sequence(lit(0), col("__salt"))))
      .select(col("cell"), col("__i"), col("__salt").as("__j"),
        col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val pairs = aSide.join(bSide, Seq("cell", "__i", "__j"))
      // cross blocks (i<j) hold disjoint rows — every pair is new; the
      // diagonal (i=j) is a self-join — halve it by id order
      .filter(col("__i") < col("__j") || col("id_a") < col("id_b"))
      // a zero-norm side gives NULL cosine (see cosine), which fails
      // >= — one zero embedding can no longer "duplicate" (and delete)
      // every higher id in its cell
      .filter(cosine(col("emb_a"), col("emb_b")) >= threshold)
    // every dropped vector is the higher id of ≥1 qualifying pair (in
    // cross blocks the salt order is unrelated to id order, so take
    // greatest explicitly). The drop set is usually ≪ corpus, but with a
    // low threshold it approaches corpus size — no broadcast hint; AQE
    // decides from the measured size.
    val drops = pairs
      .select(greatest(col("id_a"), col("id_b")).as("vec_id")).distinct()
    v.select(col("vec_id"), col("cell"))
      .join(drops, Seq("vec_id"), "left_anti")
  }

  // ---- PCA over the embedding column ---------------------------------

  /** Raw-moment sums of the embedding matrix in ONE distributed pass:
    * the row count, every first moment Σ xᵢ, and every co-moment
    * Σ xᵢxⱼ (i ≤ j), keyed by their index in the native
    * [[graft.functions.TriProducts]] layout
    * (0 = count, 1..d = margins, then the triangle row-major). The
    * per-row expansion is ONE fused native loop (it replaced a nested
    * interpreted-`transform` whose per-element lambda + struct +
    * decimal builds took 8-11 s cold / 3.5 s warm at d=64 — the
    * arithmetic is microseconds); the groupBy is map-side combined, so
    * the shuffle carries ~2k rows per partition regardless of corpus
    * size — the standard moment-sketch shape for distributed
    * covariance/PCA.
    *
    * Products are doubles (each float·float product is exactly
    * representable) cast to exact `decimal(28,12)` at the aggregate
    * boundary — bit-identical to the previous formulation, so the
    * covariance oracle reproduces unchanged (SURVEY.md §5 determinism
    * rules).
    *
    * A small/staged frame often arrives as ONE scan partition (single
    * parquet row group), which would serialize the expansion on one
    * core. Spread under-partitioned input first — pruned to the
    * embedding column; at lake scale (partitions ≥ cores) the spread is
    * a no-op, the same guard as [[kmeansCells]]. */
  def momentSums(vectors: DataFrame, embCol: String, dim: Int)
  : DataFrame = {
    spread(vectors.select(col(embCol)))
      .select(posexplode(call_function("graft_tri_products",
        col(embCol))).as(Seq("idx", "p")))
      .groupBy("idx")
      .agg(sum(col("p").cast("decimal(28,12)")).as("s"))
  }

  /** The collected, driver-finished form of a [[momentSums]] pass:
    * row count, element-wise mean, and upper-triangle covariance. The
    * sums frame is ≤ d(d+1)/2 + d + 1 rows at ANY corpus size, so the
    * collect is bounded by the same argument that makes the d×d Jacobi
    * legal — and finishing on the driver turns what used to be 4-5
    * broadcast-join jobs (checkpoint, n, margin, cov, mean) into ONE
    * distributed job (the moment pass inside the collect) plus local
    * arithmetic. All double expressions keep the fixed evaluation
    * order of the previous SQL-form finish — (Σxy − ΣxΣy/n)/n, Σx/n —
    * so oracles and earlier rounds reproduce them bit-for-bit. */
  private case class MomentFinish(n: Double, mean: Array[Double],
                                  cov: Seq[(Int, Int, Double)])

  private def finishSums(vectors: DataFrame, embCol: String, dim: Int)
  : MomentFinish = {
    val rows = momentSums(vectors, embCol, dim).collect()
    var n = 0.0
    val margin = Array.ofDim[Double](dim)
    val tri = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, java.math.BigDecimal)]
    // decode the TriProducts layout: 0 = count, 1..d = margins, then
    // the upper triangle row-major (row i starts at
    // 1 + d + i·d − i(i−1)/2)
    rows.foreach { r =>
      val idx = r.getInt(0)
      val s = r.getDecimal(1)
      if (idx == 0) n = s.doubleValue
      else if (idx <= dim) margin(idx - 1) = s.doubleValue
      else {
        var t = idx - 1 - dim
        var i = 0
        while (t >= dim - i) { t -= dim - i; i += 1 }
        tri += ((i, i + t, s))
      }
    }
    val cov = tri.sortBy(t => (t._1, t._2)).map { case (i, j, s) =>
      (i, j, (s.doubleValue - margin(i) * margin(j) / n) / n)
    }.toSeq
    MomentFinish(n, margin.map(_ / n), cov)
  }

  /** Population covariance matrix as (i, j, cov) upper-triangle rows:
    * one distributed moment pass ([[momentSums]]), finished on the
    * driver over the collected d²-bounded sums (see [[finishSums]]).
    * cov = (Σxy − ΣxΣy/n)/n in a fixed evaluation order so an oracle
    * computing the same expression reproduces it bit-for-bit. */
  def covariance(vectors: DataFrame, embCol: String, dim: Int)
  : DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    finishSums(vectors, embCol, dim).cov.toDF("i", "j", "cov")
  }

  /** Eigendecomposition of the d×d covariance matrix by cyclic Jacobi
    * rotations, on the DRIVER — legitimate because the matrix is d²
    * values no matter the corpus size (the distributed work is the one
    * moment pass). Deterministic: fixed sweep order, fixed convergence
    * bound, descending-eigenvalue sort with index tie-break. Returns
    * (eigenvalues, eigenvectors as columns). */
  private[graft] def jacobiEigen(a: Array[Array[Double]])
  : (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = Array.tabulate(d, d)((i, j) => a(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += m(i)(j) * m(i)(j)
      s
    }
    while (off() > 1e-22 && sweep < 64) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(m(p)(q)) > 0) {
        val theta = (m(q)(q) - m(p)(p)) / (2.0 * m(p)(q))
        // sign(0) must be +1 here: θ = 0 is the exact-45° rotation,
        // not the identity (math.signum(0.0) would zero it out)
        val t = (if (theta >= 0) 1.0 else -1.0) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until d) {
          val mkp = m(k)(p); val mkq = m(k)(q)
          m(k)(p) = c * mkp - s * mkq
          m(k)(q) = s * mkp + c * mkq
        }
        for (k <- 0 until d) {
          val mpk = m(p)(k); val mqk = m(q)(k)
          m(p)(k) = c * mpk - s * mqk
          m(q)(k) = s * mpk + c * mqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-m(i)(i), i))
    (order.map(i => m(i)(i)).toArray,
      order.map(i => (0 until d).map(k => v(k)(i)).toArray).toArray)
  }

  /** Driver-side Jacobi finish over an (i, j, cov) upper-triangle frame
    * — legal at any corpus size: the matrix is d² values. */
  /** Driver-side Jacobi finish over the collected upper-triangle
    * covariance — legal at any corpus size: the matrix is d² values. */
  /** Mirror-fill the (i ≤ j) triangle into the full symmetric matrix
    * and eigendecompose — the one fit step shared by the component
    * frame and the verdict (a private seam so the two can never
    * diverge on layout or ordering). */
  private def eigenFromTri(cov: Seq[(Int, Int, Double)], dim: Int)
  : (Array[Double], Array[Array[Double]]) = {
    val a = Array.ofDim[Double](dim, dim)
    cov.foreach { case (i, j, c) => a(i)(j) = c; a(j)(i) = c }
    jacobiEigen(a)
  }

  private def componentsFromTri(spark: org.apache.spark.sql.SparkSession,
                                cov: Seq[(Int, Int, Double)],
                                dim: Int, k: Int): DataFrame = {
    import spark.implicits._
    val (eig, vecs) = eigenFromTri(cov, dim)
    (0 until k).map(i => (i, eig(i), vecs(i).toSeq))
      .toDF("component", "eigenvalue", "axis")
  }

  /** The element-wise mean as a ONE-row local frame — the broadcast
    * side of the projection, costing no distributed job at all. */
  private def muFrame(spark: org.apache.spark.sql.SparkSession,
                      mean: Array[Double]): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(mean.toSeq)).toDF("mu")
  }

  /** Principal components of the embedding column: one distributed
    * moment pass finished on the driver ([[finishSums]]), a d×d Jacobi
    * eigen, and the top-k components returned as a k-row frame
    * (component, eigenvalue, axis: Array[Double]). */
  def pcaComponents(vectors: DataFrame, embCol: String, dim: Int, k: Int)
  : DataFrame =
    componentsFromTri(vectors.sparkSession,
      finishSums(vectors, embCol, dim).cov, dim, k)

  /** Fit + project in ONE corpus pass: the collected moment sums feed
    * both the covariance (→ components) and the mean (→ centering), so
    * the full train-and-apply PCA costs a single distributed scan plus
    * driver arithmetic — the shape [[pcaComponents]] + [[pcaProject]]
    * called separately would pay twice for. An empty fit set fails
    * loudly: it would otherwise surface as an empty mean array that
    * `zip_with` null-pads, silently nulling every coordinate. */
  def pcaProjectFitted(vectors: DataFrame, idCol: String, embCol: String,
                       dim: Int, k: Int): DataFrame = {
    val f = finishSums(vectors, embCol, dim)
    require(f.n > 0, "pcaProjectFitted: the PCA fit set is empty")
    val spark = vectors.sparkSession
    projectOn(vectors, idCol, embCol, muFrame(spark, f.mean),
      componentsFromTri(spark, f.cov, dim, k))
  }

  /** The lake-scale PCA recipe: fit (moments → covariance → eigen →
    * mean) on a DETERMINISTIC md5-keyed sample of the corpus, then
    * project EVERY vector. The d²-element moment expansion — the only
    * corpus-proportional cost of the fit — shrinks by 1/sampleFrac
    * while the projection stays one scan-local broadcast pass over the
    * full data. The sample is keyed on md5(id), not rand(): the same
    * rows are chosen on any cluster size, any partitioning, any rerun
    * (the [[graft.text.Text.stratifiedSample]] determinism rule).
    * Covariance concentrates at O(1/√(sample size)) — callers size
    * sampleFrac to the axis precision they need, not to the corpus. */
  def pcaProjectSampleFitted(vectors: DataFrame, idCol: String,
                             embCol: String, dim: Int, k: Int,
                             sampleFrac: Double): DataFrame = {
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"sampleFrac must be in (0, 1], got $sampleFrac")
    val bucket = conv(substring(md5(col(idCol).cast("string")
      .cast("binary")), 1, 6), 16, 10).cast("long")
    val fitRows = vectors.filter(
      bucket < lit((sampleFrac * (1L << 24)).toLong))
    val f = finishSums(fitRows, embCol, dim)
    require(f.n > 0,
      s"pcaProjectSampleFitted(sampleFrac=$sampleFrac): " +
        "the PCA fit set is empty")
    val spark = vectors.sparkSession
    projectOn(vectors, idCol, embCol, muFrame(spark, f.mean),
      componentsFromTri(spark, f.cov, dim, k))
  }

  /** Verdict form of the PCA fit+project — the oracle surface for an
    * operator whose core (the Jacobi eigensolver) has no SQL twin.
    * Same pattern as the approximation-sketch verdicts (SURVEY.md §5):
    * the output carries (a) quantities BOTH engines compute exactly
    * from the raw table — the row count and the total variance
    * (= covariance trace, the same fixed-order per-element expression
    * the `q_emb_covariance` oracle already hash-matches at 10 dp) —
    * and (b) the PCA invariants as booleans the DuckDB twin asserts
    * literally, so the hash matches iff every invariant held:
    *
    *  - `ok_proj`      per row: the projected coordinate equals the
    *                   independent expansion x·Vₖ − μ·Vₖ (different
    *                   association than projectOn's (x−μ)·Vₖ) within ε
    *  - `ok_parseval`  per vector: Σₖ coordₖ² ≤ ‖x−μ‖² + ε (projection
    *                   onto an orthonormal basis cannot exceed the norm)
    *  - `ok_centered`  per component: |mean(coord)| ≤ ε
    *  - `ok_unit`      per component: |‖Vₖ‖ − 1| ≤ ε
    *  - `ok_orth`      all pairwise |Vᵢ·Vⱼ| ≤ ε (driver, k² dots)
    *  - `ok_order`     eigenvalues descending
    *  - `ok_var`       per component: |popvar(coord) − λₖ| within a
    *                   relative bound — ties the DATA-side variance of
    *                   the projected output back to the eigensolver
    *
    * Scale shape: one moment pass (shared with the fit), one scan-local
    * projection pass against the broadcast axes, per-component stats via
    * a map-side-combined groupBy broadcast back (k rows — never a
    * k-partition window), and a per-vector window keyed on the id (as
    * many groups as rows, so it hash-partitions evenly). */
  def pcaVerdict(vectors: DataFrame, idCol: String, embCol: String,
                 dim: Int, k: Int): DataFrame = {
    val f = finishSums(vectors, embCol, dim)
    require(f.n > 0, "pcaVerdict: the PCA fit set is empty")
    val spark = vectors.sparkSession
    import spark.implicits._
    val (eig, vecs) = eigenFromTri(f.cov, dim)
    def dotL(u: Array[Double], v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < u.length) { s += u(i) * v(i); i += 1 }
      s
    }
    val eps = 1e-9
    val okOrth = (0 until k).forall(i => (i + 1 until k).forall(j =>
      math.abs(dotL(vecs(i), vecs(j))) <= eps))
    val okOrder = (1 until k).forall(i => eig(i) <= eig(i - 1) + eps)
    // trace in ascending-dim order — f.cov is (i,j)-sorted, so the diag
    // filter preserves it; the oracle sums the same 10dp-stable elements
    val trace = f.cov.collect { case (i, j, c) if i == j => c }.sum
    val tolVar = 1e-6 * math.max(1.0, math.abs(eig(0)))
    val comps = (0 until k).map { i =>
      (i, eig(i), vecs(i).toSeq, dotL(f.mean, vecs(i)),
        math.abs(math.sqrt(dotL(vecs(i), vecs(i))) - 1.0) <= eps)
    }.toDF("component", "eigenvalue", "axis", "mua", "ok_unit")
    val base = vectors
      .crossJoin(broadcast(muFrame(spark, f.mean)))
      .select(col(idCol), col(embCol),
        zip_with(col(embCol), col("mu"),
          (x, m) => x.cast("double") - m).as("cx"))
      .select(col(idCol), col(embCol), col("cx"),
        aggregate(zip_with(col("cx"), col("cx"), (p, q) => p * q),
          lit(0.0), (acc, p) => acc + p).as("nx2"))
    // staged: TWO consumers (the per-component stats aggregation and
    // the final verdict join) read this projection pass — without the
    // pin the corpus-proportional dot products would run twice
    val rows = base.crossJoin(broadcast(comps))
      .select(col(idCol), col("component"), col("eigenvalue"),
        col("ok_unit"), col("nx2"),
        aggregate(zip_with(col("cx"), col("axis"), (c, ax) => c * ax),
          lit(0.0), (acc, p) => acc + p).as("coord"),
        (aggregate(zip_with(col(embCol), col("axis"),
          (x, ax) => x.cast("double") * ax),
          lit(0.0), (acc, p) => acc + p) - col("mua")).as("xa_centered"))
      .stage()
    val compStats = rows.groupBy("component")
      .agg(sum(col("coord")).as("sum_c"),
        sum(col("coord") * col("coord")).as("sum_c2"))
    val wVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    rows
      .join(broadcast(compStats), Seq("component"))
      .withColumn("par_c2",
        sum(col("coord") * col("coord")).over(wVec))
      .select(col(idCol), col("component"),
        (abs(col("coord") - col("xa_centered")) <= lit(eps)).as("ok_proj"),
        (col("par_c2") <= col("nx2") + lit(eps)).as("ok_parseval"),
        (abs(col("sum_c") / lit(f.n)) <= lit(eps)).as("ok_centered"),
        col("ok_unit"),
        lit(okOrth).as("ok_orth"),
        lit(okOrder).as("ok_order"),
        (abs(col("sum_c2") / lit(f.n) -
          (col("sum_c") / lit(f.n)) * (col("sum_c") / lit(f.n)) -
          col("eigenvalue")) <= lit(tolVar)).as("ok_var"),
        lit(f.n.toLong).as("n_rows"),
        round(lit(trace), 4).as("total_var"))
  }

  // ---- int8 scalar quantization --------------------------------------

  /** Per-dimension (min, max) of the embedding matrix — the calibration
    * pass for scalar quantization. One scan with a scan-local explode to
    * (dim, value) pairs; the groupBy is map-side combined so the shuffle
    * carries d rows per partition regardless of corpus size. Values stay
    * float (parquet storage type) so both engines see identical inputs. */
  def int8QuantParams(vectors: DataFrame, embCol: String, dim: Int)
  : DataFrame =
    vectors
      .select(posexplode(col(embCol)).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx"))

  /** Params folded into ONE broadcastable row of (mins, scales) arrays,
    * scale = (max − min)/255 (0 for a constant dimension — its code is
    * pinned to 0 and reconstruction returns the constant). */
  private def int8ParamArrays(params: DataFrame): DataFrame =
    params
      .select(col("i"), col("mn"),
        ((col("mx") - col("mn")) / 255.0).as("sc"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("i"), col("mn"), col("sc"))))
        .as("ps"))
      .select(
        transform(col("ps"), p => p.getField("mn")).as("mns"),
        transform(col("ps"), p => p.getField("sc")).as("scs"))

  /** Asymmetric int8 codes: code = floor((x − min)/scale + 0.5) − 128,
    * one tinyint per dimension. floor(z + 0.5) — not round() — so both
    * engines share one unambiguous tie rule. Scan-local: the only
    * non-scan work is the broadcast of the d-element param row. */
  def int8Quantize(vectors: DataFrame, idCol: String, embCol: String,
                   params: DataFrame): DataFrame =
    vectors
      .crossJoin(broadcast(int8ParamArrays(params)))
      .select(col(idCol),
        zip_with(col(embCol),
          zip_with(col("mns"), col("scs"), (m, s) => struct(
            m.as("mn"), s.as("sc"))),
          (x, p) => when(p.getField("sc") > 0.0,
            floor((x.cast("double") - p.getField("mn"))
              / p.getField("sc") + 0.5) - 128)
            .otherwise(0).cast("tinyint")).as("codes"))

  /** Corpus-level reconstruction-error report for the int8 codebook:
    * per-vector squared error of x̂ = min + (code + 128)·scale against x,
    * aggregated to (n_vectors, mean_mse, max_mse) — the quality gate a
    * quantized ANN index is admitted under. All arithmetic is
    * fixed-order double, reproducible cross-engine. */
  def int8ReconError(vectors: DataFrame, idCol: String, embCol: String,
                     dim: Int, params: DataFrame): DataFrame =
    vectors
      .crossJoin(broadcast(int8ParamArrays(params)))
      .select(col(idCol),
        (aggregate(
          zip_with(col(embCol),
            zip_with(col("mns"), col("scs"), (m, s) => struct(
              m.as("mn"), s.as("sc"))),
            (x, p) => {
              val xd = x.cast("double")
              val code = when(p.getField("sc") > 0.0,
                floor((xd - p.getField("mn")) / p.getField("sc") + 0.5))
                .otherwise(0.0)
              val xhat = p.getField("mn") + code * p.getField("sc")
              val e = xd - xhat
              e * e
            }),
          lit(0.0), (acc, v) => acc + v) / dim).as("mse"))
      .agg(count(lit(1)).as("n_vectors"),
        // mean via an exact decimal sum — partition order cannot move
        // a bit (max is order-free already)
        round(sum(col("mse").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 10).as("mean_mse"),
        round(max(col("mse")), 10).as("max_mse"))

  /** Project embeddings onto the given components (broadcast k·d rows):
    * output (id, component, coord) with coord = ⟨x − μ, axis⟩. The mean
    * comes from one [[momentSums]] pass finished on the driver (exact
    * decimal margin / n). Projection itself is scan-local — one
    * broadcast join, no shuffle of the corpus. */
  def pcaProject(vectors: DataFrame, idCol: String, embCol: String,
                 dim: Int, components: DataFrame): DataFrame =
    projectOn(vectors, idCol, embCol,
      muFrame(vectors.sparkSession,
        finishSums(vectors, embCol, dim).mean), components)

  /** Scan-local projection against broadcast mean + components:
    * (id, component, coord) with coord = ⟨x − μ, axis⟩ — one broadcast
    * join, no shuffle of the corpus. */
  private def projectOn(vectors: DataFrame, idCol: String,
                        embCol: String, mu: DataFrame,
                        components: DataFrame): DataFrame =
    vectors
      .crossJoin(broadcast(mu))
      .crossJoin(broadcast(components.select(col("component"),
        col("axis"))))
      .select(col(idCol), col("component"),
        aggregate(zip_with(
          zip_with(col(embCol), col("mu"),
            (x, m) => x.cast("double") - m),
          col("axis"), (cx, ax) => cx * ax),
          lit(0.0), (acc, p) => acc + p).as("coord"))

  // ---- search over the int8 index ------------------------------------

  /** Reconstruct x̂ = min + (code + 128)·scale from int8 codes — the
    * decode half of the [[int8Quantize]] contract, scan-local against
    * the broadcast d-element param row. A constant dimension (scale 0,
    * code pinned 0) reconstructs exactly to the constant. Output is
    * `array<double>` so downstream distance math is double precision
    * end-to-end. */
  def int8Reconstruct(codes: DataFrame, idCol: String,
                      params: DataFrame): DataFrame =
    codes
      .crossJoin(broadcast(int8ParamArrays(params)))
      .select(col(idCol),
        zip_with(col("codes"),
          zip_with(col("mns"), col("scs"), (m, s) => struct(
            m.as("mn"), s.as("sc"))),
          (c, p) => p.getField("mn") +
            (c.cast("double") + 128.0) * p.getField("sc")).as("xhat"))

  /** Asymmetric int8 ANN: full-precision queries scored against the
    * int8-reconstructed corpus — the memory-bound regime where the
    * quantized index earns its 4× footprint shrink (the stored side is
    * one tinyint per dimension; only the broadcast query set is float).
    * Same contract and tie rule as [[bruteForceTopK]]; scores use the
    * sequential-ascending double dot so an oracle reconstructing the
    * same codes reproduces them bit-for-bit. At scale the codes frame
    * IS the persisted index — the scan streams codes, never raw
    * vectors, and only k rows per (query, partition) survive the
    * window's partial top-k. */
  def int8TopK(queries: DataFrame, codes: DataFrame, params: DataFrame,
               k: Int): DataFrame = {
    val recon = int8Reconstruct(codes, "vec_id", params)
      .select(col("vec_id").as("neighbor_id"), col("xhat"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    // graft_dot is float-only; the reconstructed side must stay double
    // (a float round-trip would diverge from the oracle's decode), so
    // the mixed dot goes through the HOF form — same accumulation order.
    // Zero-norm rows (no direction → no cosine) are excluded explicitly
    // rather than left to divide by zero under ANSI — the ivfPqTopK
    // an2=0 lesson.
    val qd = transform(col("q_emb"), x => x.cast("double"))
    val scored = recon.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qn2", dotHof(qd, qd))
      .withColumn("cn2", dotHof(col("xhat"), col("xhat")))
      .filter(col("qn2") > 0.0 && col("cn2") > 0.0)
      .withColumn("cos", dotHof(qd, col("xhat")) /
        (sqrt(col("qn2")) * sqrt(col("cn2"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * eval harness a quantized/partitioned index is admitted under.
    * Both inputs carry (query_id, neighbor_id) rows (rank columns are
    * ignored); output is one row per query: (query_id, n_exact, n_hit,
    * recall). Queries the approximate index missed entirely still
    * appear (left join from the exact side), with recall 0. The join
    * keys are (query, neighbor) ids — a few k rows per query, so at any
    * scale this is a cheap co-partitioned join on the query id. */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"),
      lit(1).as("__hit"))
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 6))
  }

  // ---- Johnson-Lindenstrauss random projection -----------------------

  /** Sign matrix for a JL random projection, built from md5 so any
    * engine regenerates it bit-identically from (dim, k) alone — no
    * RNG state to ship. Row j is the j-th output axis:
    * axis[i] = +1 if the first md5 nibble of "i_j" is odd else −1.
    * k rows of d doubles — broadcast-sized by construction. */
  def rpSignMatrix(spark: org.apache.spark.sql.SparkSession, dim: Int,
                   k: Int): DataFrame =
    spark.range(k)
      .select(col("id").cast("int").as("component"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (conv(substring(md5(concat_ws("_", i.cast("string"),
            col("id").cast("string")).cast("binary")), 1, 1), 16, 10)
            .cast("int") % 2 * 2 - 1).cast("double")).as("axis"))

  /** Johnson-Lindenstrauss projection to k dims: coord =
    * ⟨x, axis⟩ / √k against the broadcast [[rpSignMatrix]] — the cheap,
    * data-independent dimensionality reduction used to shrink
    * embeddings before LSH or clustering (Achlioptas '01 ±1 variant).
    * Scan-local per row: one broadcast join, no corpus shuffle, and
    * unlike PCA no training pass at all. */
  def rpProject(vectors: DataFrame, idCol: String, embCol: String,
                dim: Int, k: Int): DataFrame = {
    val m = rpSignMatrix(vectors.sparkSession, dim, k)
    vectors
      .crossJoin(broadcast(m))
      .select(col(idCol), col("component"),
        (aggregate(zip_with(col(embCol), col("axis"),
          (x, s) => x.cast("double") * s),
          lit(0.0), (acc, p) => acc + p) /
          math.sqrt(k.toDouble)).as("coord"))
  }

  /** Two-stage retrieval through the JL space: coarse top-`coarseK` by
    * cosine over `kProj`-dim projections (distance math on kProj
    * doubles instead of dim floats — the memory/compute shrink), then
    * EXACT rerank of only those candidates in full precision. The
    * production recall dial: coarseK/k trades recall against coarse
    * cost, and because the final scoring is exact, errors can only come
    * from a true neighbor missing the coarse cut — never from ranking
    * among candidates.
    *
    * Shape at scale: projections are scan-local ([[rpProject]]'s
    * broadcast sign matrix, folded to one array row); the coarse pass
    * streams kProj-double rows with per-partition top-k before the
    * exchange; the rerank joins only |queries|·coarseK rows back to the
    * corpus — a co-partitioned id join, not a scan. Zero-projection
    * rows (possible by sign cancellation even for nonzero x) are
    * excluded from the coarse pool explicitly rather than dividing by
    * zero under ANSI. */
  def rpRerankTopK(queries: DataFrame, corpus: DataFrame, dim: Int,
                   kProj: Int, coarseK: Int, k: Int): DataFrame = {
    val m = rpSignMatrix(corpus.sparkSession, dim, kProj)
      .groupBy().agg(array_sort(collect_list(
        struct(col("component"), col("axis")))).as("ps"))
      .select(transform(col("ps"), p => p.getField("axis")).as("axes"))
    def proj(df: DataFrame, idName: String, projName: String) =
      df.crossJoin(broadcast(m))
        .select(col("vec_id").as(idName),
          transform(col("axes"), ax =>
            aggregate(zip_with(col("embedding"), ax,
              (x, s) => x.cast("double") * s),
              lit(0.0), (acc, p) => acc + p) /
              math.sqrt(kProj.toDouble)).as(projName))
    val cp = proj(corpus, "neighbor_id", "c_proj")
    val qp = proj(queries, "query_id", "q_proj")
    val wCoarse = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id").asc)
    val coarse = cp.crossJoin(broadcast(qp))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qn2", dotHof(col("q_proj"), col("q_proj")))
      .withColumn("cn2", dotHof(col("c_proj"), col("c_proj")))
      .filter(col("qn2") > 0.0 && col("cn2") > 0.0)
      .withColumn("pcos", dotHof(col("q_proj"), col("c_proj")) /
        (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("crnk", row_number().over(wCoarse))
      .filter(col("crnk") <= coarseK)
      .select("query_id", "neighbor_id")
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    coarse
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      // null cos = a zero-norm side (see cosine): must not be ranked
      .filter(col("cos").isNotNull)
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
  }
}
