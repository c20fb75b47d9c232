package graft.similarity

import graft.Staging._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Label-supervised embedding evaluation — the quality harness a
  * training-data pipeline runs over a labeled eval slice: embedding-space
  * classifiers (nearest-centroid, leave-one-out kNN) and clustering
  * agreement (purity). The reference has no labeled-eval surface; this
  * extends the ANN/clustering stack (SURVEY.md §2 extensions) the same way
  * `annRecall` does for retrieval — measure the index you just built.
  *
  * Scale contract: labels exist on CURATED eval sets, not the 100 TB
  * corpus, so the quadratic kNN evaluator is bounded by the eval-set size
  * by construction. Everything else is one scan + a bounded (|labels|·d)
  * shuffle or broadcast. All tie-breaks and fold orders are pinned so a
  * SQL oracle reproduces results bit-for-bit.
  */
object LabelEval {

  /** Per-label mean embedding: (label, centroid array<double>).
    *
    * One scan-local posexplode to (label, dim, x) and one map-side
    * combined groupBy — the shuffle carries |labels|·d rows per
    * partition regardless of corpus size. Sums go through exact
    * `decimal(28,12)` (the [[Similarity.momentSums]] rule) so the means
    * are bit-identical across partition orders and engines. */
  def labelCentroids(vectors: DataFrame, embCol: String,
                     labelCol: String): DataFrame =
    vectors
      .select(col(labelCol).as("label"),
        posexplode(col(embCol)).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("x").cast("double").cast("decimal(28,12)")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("label"), col("i"),
        (col("sx").cast("double") / col("n")).as("mu"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("mu"))))
        .as("ps"))
      .select(col("label"),
        transform(col("ps"), p => p.getField("mu")).as("centroid"))

  /** Nearest-centroid classification of every vector against the
    * per-label centroids fit on the same frame: (id, label, pred,
    * correct). The |labels| centroids fold into ONE broadcast row of
    * (label, centroid) structs, so classification is pure map work —
    * `array_min` over per-centroid (distance, label) structs picks
    * argmin of −2⟨x,c⟩+⟨c,c⟩ (the [[Similarity.kmeansCells]] identity;
    * ⟨x,x⟩ is constant per row) with ties toward the lower label, and
    * the corpus never shuffles: the only exchange anywhere is the
    * |labels|·d-row centroid fit. Centroids round through float before
    * the distance math — the precision a float-stored centroid file
    * would give, and the kmeans cross-engine convention. */
  def nearestCentroidClassify(vectors: DataFrame, idCol: String,
                              embCol: String, labelCol: String)
  : DataFrame = {
    val cRow = labelCentroids(vectors, embCol, labelCol)
      .select(col("label").as("cand"),
        col("centroid").cast("array<float>").as("centroid"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("cand"), col("centroid"))))
        .as("cands"))
    // graft_dot is float-typed; the row side casts through float too (a
    // no-op on a float-stored corpus, and the same rounding convention
    // for a synthetic double-typed frame)
    val x = col(embCol).cast("array<float>")
    val scored = transform(col("cands"), c =>
      struct((Similarity.dot(x, c.getField("centroid")) * -2 +
        Similarity.dot(c.getField("centroid"), c.getField("centroid")))
        .as("d"),
        c.getField("cand").as("cand")))
    vectors
      .select(col(idCol), col(labelCol).as("label"), col(embCol))
      .crossJoin(broadcast(cRow))
      .withColumn("m", array_min(scored))
      .select(col(idCol), col("label"), col("m.cand").as("pred"),
        (col("label") === col("m.cand")).cast("int").as("correct"))
  }

  /** Leave-one-out k-nearest-neighbor classification over the labeled
    * eval set: each vector is classified by the majority label of its k
    * nearest OTHER vectors (cosine), ties broken by vote count desc then
    * label asc; neighbor rank ties by similarity desc then id asc.
    * Output (id, label, pred, correct).
    *
    * Deliberately exact/quadratic in FLOPs — but not in shuffle: the
    * candidate set rides in one broadcast row and each query's top-k is
    * a scan-local sort, so the whole evaluation is a single map pass
    * plus the tiny vote aggregation. Bounded by the labeled set size
    * (labels live on curated slices, not the corpus). For an
    * approximate variant at larger eval sizes, generate neighbors with
    * [[Similarity.ivfTopK]]/[[Similarity.rpRerankTopK]] and feed them
    * to [[knnVote]]. */
  def knnClassify(vectors: DataFrame, idCol: String, embCol: String,
                  labelCol: String, k: Int): DataFrame = {
    // zero-norm rows have no direction, hence no cosine: excluded on
    // both sides explicitly rather than left to divide by zero under
    // ANSI (the int8TopK rule)
    // spread the query side: per-query work is |eval set| dots + a
    // sort, and a single-row-group source would serialize it all on
    // one core
    val a = spread(
      vectors.select(col(idCol).as("qid"),
        col(labelCol).as("qlabel"),
        col(embCol).cast("array<float>").as("qe"))
        .filter(Similarity.dot(col("qe"), col("qe")) > 0.0))
    // the labeled eval set is broadcast-sized by contract, so ALL
    // candidates (with their norms precomputed) fold into ONE broadcast
    // row, and the per-query top-k is a scan-local array_sort + slice —
    // no 4M-row window shuffle. Sorting struct(−cos, nid) is exactly
    // the (cos desc, nid asc) neighbor tie rule.
    val cands = vectors.select(col(idCol).as("nid"),
      col(labelCol).as("nlabel"),
      col(embCol).cast("array<float>").as("ne"))
      .filter(Similarity.dot(col("ne"), col("ne")) > 0.0)
      .select(col("nid"), col("nlabel"), col("ne"),
        sqrt(Similarity.dot(col("ne"), col("ne"))).as("nn"))
      .groupBy()
      .agg(collect_list(struct(col("nid"), col("nlabel"), col("ne"),
        col("nn"))).as("cands"))
    // project each candidate to a 3-field struct FIRST (so the filter
    // and sort never copy the 64-float vectors), and hoist the query
    // norm to a column (a lambda would re-evaluate it per candidate)
    val scored = filter(
      transform(col("cands"), c => struct(
        (-(Similarity.dot(col("qe"), c.getField("ne")) /
          (col("qn") * c.getField("nn")))).as("negcos"),
        c.getField("nid").as("nid"),
        c.getField("nlabel").as("nlabel"))),
      t => t.getField("nid") =!= col("qid"))
    val topk = a
      .withColumn("qn", sqrt(Similarity.dot(col("qe"), col("qe"))))
      .crossJoin(broadcast(cands))
      .select(col("qid"), col("qlabel"),
        explode(slice(array_sort(scored), 1, k)).as("t"))
      .select(col("qid"), col("qlabel"), col("t.nlabel").as("nlabel"))
    knnVote(topk)
  }

  /** Majority vote over (qid, qlabel, nlabel) neighbor rows — the finish
    * of [[knnClassify]], split out so an approximate neighbor generator
    * can reuse it. Vote ties break by count desc, then label asc. */
  def knnVote(neighbors: DataFrame): DataFrame =
    neighbors
      .groupBy(col("qid"), col("qlabel"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("qid"), col("qlabel"))
      .agg(min(struct((-col("votes")).as("nv"), col("nlabel")))
        .as("m"))
      .select(col("qid").as("vec_id"), col("qlabel").as("label"),
        col("m.nlabel").as("pred"),
        (col("qlabel") === col("m.nlabel")).cast("int").as("correct"))

  /** Deterministic label-aware negative sampling — the contrastive-
    * training pair generator: for every anchor row, k with-replacement
    * uniform draws over the corpus, keyed on md5(anchor, draw) so the
    * SAME pairs come back on any cluster size, partitioning, or rerun
    * (the stratifiedSample determinism rule). Draws that land on the
    * anchor itself or on a same-label row are dropped — they are not
    * negatives — so an anchor yields ≤ k pairs. Output
    * (anchor, j, negative), j = the draw index.
    *
    * Scale shape: the id→rank table is a distributed range sort +
    * zipWithIndex (the perplexityBuckets idiom — never a single-
    * partition window), the k-draw fan-out is scan-local, and the
    * draw→candidate resolution is ONE equi-join on rank. The corpus
    * count is the only driver scalar. */
  def negativePairs(vectors: DataFrame, idCol: String, labelCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = vectors.sparkSession
    val base = vectors.select(col(idCol).cast("long").as("nid"),
      col(labelCol).as("nlabel"))
    // staged: count(), zipWithIndex's internal offset job, and the
    // draw join would each re-run the corpus-wide range sort otherwise
    val ranked = spark.createDataFrame(
      base.sort("nid").rdd.zipWithIndex.map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx)
      },
      base.schema.add("rank",
        org.apache.spark.sql.types.LongType, nullable = false))
      .stage()
    val n = ranked.count()
    require(n > 0, "negativePairs: the corpus is empty — nothing to draw")
    vectors
      .select(col(idCol).cast("long").as("anchor"),
        col(labelCol).as("alabel"))
      .select(col("anchor"), col("alabel"),
        explode(sequence(lit(0L), lit(k - 1L))).as("j"))
      .withColumn("rank",
        conv(substring(md5(concat_ws("_", col("anchor"), col("j"))
          .cast("binary")), 1, 8), 16, 10).cast("long") % n)
      .join(ranked, "rank")
      .filter(col("nid") =!= col("anchor") &&
        col("nlabel") =!= col("alabel"))
      .select(col("anchor"), col("j"), col("nid").as("negative"))
  }

  /** Confusion matrix over (label, pred) prediction rows:
    * (label, pred, n) — one map-side-combined aggregation, at most
    * |labels|² output rows. */
  def confusionMatrix(pred: DataFrame): DataFrame =
    pred.groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))

  /** Exact ROC-AUC by the Mann-Whitney rank-sum identity:
    * AUC = (R⁺ − P(P+1)/2)/(P·N) with R⁺ the sum of the positives'
    * mid-ranks under ascending score — the standard threshold-free
    * quality score for any scorer (quality filters, dedup confidences,
    * rerankers) against a binary label.
    *
    * Tie handling is EXACT: ranks never materialize per row. One hash
    * agg shrinks the corpus to (score, cnt, pos) per DISTINCT score —
    * bounded by the score's value space (integer cents/micros), not the
    * row count — then a prefix sum over that frame gives each tie
    * block's cumulative offset, and 2R⁺ = Σ pos·(2·cum + cnt + 1) stays
    * in integers (mid-rank halves cancel against the factor 2). The
    * prefix sum is the DISTRIBUTED two-level form
    * ([[graft.ops.windows.distributedPrefixSum]]): a finely-quantized
    * score over a wide range is millions of distinct values, and a
    * global `Window.orderBy` would push all of them through one task.
    * Exact while 2R⁺·10⁶ < 2⁶³ (≈ 3·10⁹ scored rows); beyond that,
    * swap the output step to decimal(38,0).
    *
    * @param scoreCol integer-quantized score (quantize upstream)
    * @param posCol   boolean / 0-1 positive indicator
    * @return one row (p, n, auc_micro); auc_micro null if P·N = 0
    */
  def aucRank(scored: DataFrame, scoreCol: String,
              posCol: String): DataFrame = {
    val byScore = scored.groupBy(col(scoreCol).cast("long").as("s"))
      .agg(count(lit(1)).as("cnt"),
        sum(col(posCol).cast("long")).as("pos"))
    graft.ops.windows.distributedPrefixSum(byScore, Seq(col("s")),
        col("cnt"), cumName = "cum_incl", rankName = "__rk")
      // exclusive prefix (rows strictly below the tie block)
      .withColumn("cum", col("cum_incl") - col("cnt"))
      .agg(
        sum(col("pos") * (lit(2L) * col("cum") + col("cnt") + 1L))
          .as("r2"),
        sum(col("pos")).as("p"),
        sum(col("cnt") - col("pos")).as("n"))
      .select(col("p"), col("n"),
        expr("((r2 - p * (p + 1)) * 1000000L) div (2 * p * n)")
          .as("auc_micro"))
  }

  /** Cohen's kappa (Cohen '60) over a (label, pred) frame: agreement
    * corrected for chance, κ = (p_o − p_e) / (1 − p_e) with
    * p_e = Σ_c (row_c/N)(col_c/N) — the standard chance-corrected
    * quality score for annotator/classifier agreement on a labeled
    * slice (accuracy alone inflates under skewed label marginals).
    *
    * One count agg over (label, pred) — the |classes|² confusion matrix
    * — then the marginal products on that bounded frame; the corpus is
    * read once and nothing label-cardinality-unbounded reaches the
    * driver. All ratios are double over exact bigint counts (products
    * of counts < 2⁵³ stay integer-exact), rounded 6dp at the boundary.
    * Perfect chance agreement (p_e = 1, degenerate one-class data)
    * yields κ = null rather than 0/0.
    *
    * @return one row (po, pe, kappa) rounded 6dp
    */
  def cohensKappa(pred: DataFrame): DataFrame = {
    val cm = confusionMatrix(pred).stage()
    val tot = cm.agg(sum(col("n")).as("nn"),
      sum(when(col("label") === col("pred"), col("n")).otherwise(0L))
        .as("agree"))
    val rows = cm.groupBy("label").agg(sum(col("n")).as("rn"))
    val cols_ = cm.groupBy("pred").agg(sum(col("n")).as("cn"))
    val pe = rows.join(cols_, col("label") === col("pred"))
      .agg(sum(col("rn") * col("cn")).as("cross"))
    tot.crossJoin(pe)
      .select(
        round(col("agree").cast("double") / col("nn"), 6).as("po"),
        round(col("cross").cast("double") / (col("nn") * col("nn")), 6)
          .as("pe"),
        round((col("agree").cast("double") / col("nn") -
          col("cross").cast("double") / (col("nn") * col("nn"))) /
          nullif(lit(1.0) - col("cross").cast("double") /
            (col("nn") * col("nn")), lit(0.0)), 6).as("kappa"))
  }

  /** Distance-to-own-centroid outlier score — the noisy-label /
    * outlier-sample filter over a labeled slice: each row's euclidean
    * distance to ITS label's centroid, z-scored against that label's
    * population distance distribution. Output (id, label, dist, z),
    * dist rounded 6dp and z 4dp AFTER the math (the robustOutliers
    * rounding rule).
    *
    * Two corpus passes (centroid fit; distance scan) plus two bounded
    * |labels|-row broadcasts — no corpus shuffle: the distance scan
    * joins the broadcast centroid on the label column, and the
    * per-label moment agg carries 2 rows per (partition, label). A
    * single-row label (sd = 0) z-scores to 0 rather than dividing by
    * zero. */
  def labelOutliers(vectors: DataFrame, idCol: String, embCol: String,
                    labelCol: String): DataFrame = {
    val spark = vectors.sparkSession
    // bounded-frame localization: collect an L-row frame and re-emit it
    // as a LocalRelation with the same schema, so downstream broadcasts
    // don't re-run the corpus scan that produced it (the finishSums
    // boundedness rule, type-generic via Row)
    def localize(df: DataFrame): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
    // the centroid table is |labels| rows — collect it once so the two
    // downstream corpus passes (stats, emit) don't each re-run the fit
    // scan inside their broadcast
    val centsLocal = localize(labelCentroids(vectors, embCol, labelCol)
      .select(col("label"),
        col("centroid").cast("array<float>").as("centroid")))
    val x = col(embCol).cast("array<float>")
    val dist = sqrt(greatest(
      Similarity.dot(x, x) - Similarity.dot(x, col("centroid")) * 2 +
        Similarity.dot(col("centroid"), col("centroid")),
      lit(0.0))) // float rounding can push an exact-zero slightly negative
    val scored = vectors
      .select(col(idCol), col(labelCol).as("label"), col(embCol))
      .join(broadcast(centsLocal), "label")
      .withColumn("dist", dist)
      .select(col(idCol), col("label"), col("dist"))
    // per-label moments are |labels| rows too: one corpus pass,
    // collected, re-emitted as a local broadcast side — the whole
    // operator is exactly three corpus scans (fit, stats, emit)
    val statsLocal = localize(scored
      .groupBy(col("label"))
      .agg(sum(col("dist").cast("decimal(28,12)")).as("s1"),
        sum((col("dist") * col("dist")).cast("decimal(28,12)")).as("s2"),
        count(lit(1)).as("n"))
      .select(col("label"),
        (col("s1").cast("double") / col("n")).as("mu"),
        sqrt(greatest(
          col("s2").cast("double") / col("n") -
            (col("s1").cast("double") / col("n")) *
            (col("s1").cast("double") / col("n")),
          lit(0.0))).as("sd")))
    scored.join(broadcast(statsLocal), "label")
      .select(col(idCol), col("label"),
        round(col("dist"), 6).as("dist"),
        round(when(col("sd") > 0.0,
          (col("dist") - col("mu")) / col("sd")).otherwise(0.0), 4)
          .as("z"))
  }

  /** Per-class report over (label, correct) prediction rows:
    * (label, n, n_correct, acc). `acc` is rounded to 6dp so the
    * cross-engine hash cannot hinge on a division's last ulp. */
  def classReport(pred: DataFrame): DataFrame =
    pred
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("correct").cast("long")).as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n"), 6).as("acc"))

  /** Clustering↔label agreement: for each cell of an assignment
    * (id, cell) joined to ground-truth (id, label), the cell size, its
    * majority label (ties toward the lower label) and that label's
    * count — the per-cell rows behind purity
    * Σ max-label-count / N. Two map-side-combined aggregations; the
    * shuffle carries |cells|·|labels| rows at most. */
  def clusterPurity(cells: DataFrame, labels: DataFrame,
                    idCol: String, cellCol: String, labelCol: String)
  : DataFrame =
    cells.join(labels, idCol)
      .groupBy(col(cellCol), col(labelCol))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(cellCol))
      .agg(sum(col("cnt")).as("n"),
        min(struct((-col("cnt")).as("nc"), col(labelCol))).as("m"))
      .select(col(cellCol), col("n"),
        col("m").getField(labelCol).as("majority_label"),
        (-col("m.nc")).as("n_majority"))

  /** NDCG@k discount weights in micros: round(10^6 / log2(i+1)) for
    * rank i = 1..10, PRECOMPUTED literals — no runtime log whose libm
    * rounding could differ between engines; the SQL twin embeds the
    * same table. */
  private val ndcgW = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)

  /** Exact-integer NDCG@k for labeled retrieval evaluation: per query
    * vector, the top-k cosine neighbors ([[Similarity.bruteForceTopK]]
    * order: cos desc, id asc) are relevant iff they share the query's
    * label; DCG uses the literal micro discount table, IDCG is its
    * prefix sum at n_rel (binary relevance puts all hits first), and
    * the ratio is a truncating milli-unit division — every output cell
    * BIGINT, the retrieval-metrics companion to the kNN class report
    * and the AUC rank test. Cost: one k-bounded neighbor frame + two
    * label joins + one hash agg. */
  /** MRR@k companion to [[ndcgAtK]]: per query, 10^6 / rank of the
    * FIRST label-matching neighbor (0 when none in the top k) — the
    * first-hit metric retrieval dashboards pair with NDCG. Micros are
    * exact for every rank ≤ 10^6 (truncating DIV, engine-identical);
    * same neighbor contract, one min aggregate. */
  def mrrAtK(vectors: DataFrame, idCol: String, embCol: String,
             labelCol: String, k: Int, queryPred: Column): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = vectors.select(col(idCol).as("vec_id"),
      col(embCol).as("embedding"), col(labelCol).as("__lab"))
    val labels = base.select(col("vec_id"), col("__lab"))
    Similarity.bruteForceTopK(base.filter(queryPred), base, k)
      .join(labels.select(col("vec_id").as("query_id"),
        col("__lab").as("ql")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("__lab").as("nl")), Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(min(when(col("ql") === col("nl"), col("rnk")))
        .as("first_rel_rnk"))
      .select(col("query_id"),
        coalesce(col("first_rel_rnk"), lit(0L)).cast("long")
          .as("first_rel_rnk"),
        coalesce(expr("CAST(1000000 DIV first_rel_rnk AS BIGINT)"),
          lit(0L)).as("rr_micro"))
  }

  def ndcgAtK(vectors: DataFrame, idCol: String, embCol: String,
              labelCol: String, k: Int, queryPred: Column): DataFrame = {
    require(k >= 1 && k <= ndcgW.size,
      s"k must be in [1,${ndcgW.size}], got $k")
    val wArr = array(ndcgW.take(k).map(lit): _*)
    val cumArr = array(ndcgW.take(k).scanLeft(0L)(_ + _).tail
      .map(lit): _*)
    val base = vectors.select(col(idCol).as("vec_id"),
      col(embCol).as("embedding"), col(labelCol).as("__lab"))
    val labels = base.select(col("vec_id"), col("__lab"))
    val nbrs = Similarity.bruteForceTopK(
      base.filter(queryPred), base, k)
    nbrs
      .join(labels.select(col("vec_id").as("query_id"),
        col("__lab").as("ql")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("__lab").as("nl")), Seq("neighbor_id"))
      .withColumn("rel", (col("ql") === col("nl")).cast("long"))
      .groupBy("query_id")
      .agg(sum(when(col("rel") === 1,
          element_at(wArr, col("rnk").cast("int"))).otherwise(0L))
          .as("dcg_micro"),
        sum(col("rel")).as("n_rel"))
      .withColumn("idcg_micro", when(col("n_rel") > 0,
        element_at(cumArr, col("n_rel").cast("int"))).otherwise(0L))
      .withColumn("ndcg_milli", when(col("idcg_micro") > 0,
        expr("CAST(dcg_micro * 1000 DIV idcg_micro AS BIGINT)"))
        .otherwise(0L))
      .select(col("query_id"), col("n_rel"), col("dcg_micro"),
        col("idcg_micro"), col("ndcg_milli"))
  }
}
