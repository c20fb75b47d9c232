package graft

import graft.ArtifactStore.scratch
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

/** similarity search, embeddings, the IVF/PQ index lifecycle, label eval — the Ann slice of the
  * extension surface, split out of [[ExtensionQueries]] (round 12)
  * with zero behavior change: entries are verbatim; shared artifact
  * helpers and oracle CTE fragments stay package-private in
  * [[ExtensionQueries]]. Composed back in [[ExtensionQueries.queries]]
  * / [[ExtensionQueries.oracleSql]]. */
private[graft] object AnnQueries {
  import Tables.t
  import ExtensionQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // semantic dedup: within-cluster cosine pairs, keep each chain's
    // lowest id (clusters = the stored label; kmeansCells when absent)
    "q_semdedup" -> ((s, d) =>
      Similarity.semDedup(t(s, d, "embeddings"), "label",
        threshold = 0.4)),

    // the full SemDeDup recipe: LEARN the cells (deterministic Lloyd),
    // then dedup within them — clustering + within-cell compare as one
    // composed pipeline
    "q_semdedup_kmeans" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.semDedup(
        emb.join(Similarity.kmeansCells(emb, k = 4, iters = 2),
          "vec_id"),
        "cell", threshold = 0.4)
    }),

    // the bucket computation itself, cross-engine: one row per vector
    // with all four table buckets — unlike the pairs query (whose output
    // is empty on this corpus: no near-dups exist in the testdata), this
    // pins the plane-projection math on every row
    "q_embedding_buckets" -> ((s, d) =>
      t(s, d, "embeddings").select(col("vec_id"),
        array_join(call_function("graft_lsh_buckets", col("embedding"),
          lit(4), lit(6)), "|").as("buckets"))),

    // ---- similarity search -------------------------------------------------
    "q_ann_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
    }),

    // reciprocal best match across the even/odd vec_id halves — the
    // bitext-mining mutual-neighbor filter, INDEX-ROUTED: each
    // direction's top-1 is a 2-probe IVF search over the stored cell
    // column (label — the ingest-time coarse quantizer, q_ann_ivf's
    // convention), so candidate volume is nProbe/|cells| of |A|·|B|
    // and nothing corpus-sized is ever broadcast or cross-joined.
    // The brute-force composition (mutualBestMatch) stays as the
    // recall twin in SimilaritySpec; the oracle mirrors the indexed
    // pipeline CTE-for-CTE (the q_ann_filtered_probe convention).
    "q_mutual_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.mutualBestMatchIndexed(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          cellCol = "label", nProbe = 2)
        .orderBy("a_id")
    }),

    // k-NN GRAPH over the whole collection — each vector's top-3
    // neighbors through the stored cell assignment (2-probe IVF; the
    // corpus is both query set and corpus, so candidates route through
    // the cell-co-partitioned shuffle join — nothing corpus-sized is
    // broadcast, the q_mutual_knn discipline). The kNN graph is the
    // input of every semantic-cluster analysis; the oracle mirrors the
    // indexed pipeline CTE-for-CTE.
    "q_knn_graph" -> ((s, d) =>
      Similarity.knnGraphIndexed(t(s, d, "embeddings"), "label",
          nProbe = 2, k = 3)
        .orderBy("query_id", "rnk")),

    // SEMANTIC CLUSTERS: mutual-kNN edges (b in a's top-3 AND a in
    // b's top-3 — the hub-robust edge filter) over the indexed kNN
    // graph, then connected components (the dedup CC machinery —
    // min-label pointer doubling, O(log d) linear-shuffle rounds).
    // The cluster map SemDeDup-style pipelines prune from. Vectors
    // with no mutual edge are unclustered and absent, as in the
    // pair-graph CC convention.
    "q_semantic_clusters" -> ((s, d) => {
      val g = Similarity.knnGraphIndexed(t(s, d, "embeddings"),
        "label", nProbe = 2, k = 3)
      val comps = graft.dedup.Dedup.connectedComponents(
          Similarity.mutualKnnEdges(g), "a", "b")
        .select(col("doc_id").as("vec_id"), col("comp"))
      comps.join(
          comps.groupBy("comp").agg(count(lit(1)).as("cluster_size")),
          Seq("comp"))
        .select(col("vec_id"), col("comp"), col("cluster_size"))
        .orderBy("vec_id")
    }),

    // exact MIPS: raw inner-product ranking (magnitude carries signal —
    // the two-tower recommendation objective); the norm-augmentation
    // reduction that routes MIPS through the cosine/LSH stack is
    // spec-pinned in SimilaritySpec
    "q_ann_mips" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.mipsTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
    }),

    "q_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, "label", k = 5)
    }),

    // filtered ANN: a metadata predicate restricts the candidate set
    // BEFORE scoring (pre-filter semantics — the exact top-k among
    // matching vectors, not a post-filtered approximation). The filter
    // composes with the scan, so at lake scale it prunes
    // partitions/row-groups before any distance math.
    "q_ann_filtered" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10),
        emb.filter(col("label") === 2), k = 5)
    }),

    // filtered IVF with SELECTIVITY-WIDENED probing: nProbe scales by
    // 1/selectivity (broad filter label>=5 → sel 0.5 → probe 2 cells
    // instead of 1), centroids from the FULL stored assignment,
    // candidates pre-filtered before any distance math
    "q_ann_filtered_probe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfFilteredTopK(emb.filter(col("vec_id") < 10), emb,
          emb.select(col("vec_id"), col("label").as("cell")), k = 5,
          baseNProbe = 1, pred = col("label") >= 5)
        .orderBy("query_id", "rnk")
    }),

    // recall-under-filter at TWO selectivities against the exact
    // filtered brute force: the tight filter (sel ~0.1) widens to all
    // cells and recovers full recall; the broad one (sel ~0.5) probes 2
    "q_ann_filtered_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cells = emb.select(col("vec_id"), col("label").as("cell"))
      val qs = emb.filter(col("vec_id") < 10)
      def rep(tag: String, pred: org.apache.spark.sql.Column) = {
        val exact = Similarity.bruteForceTopK(qs, emb.filter(pred),
          k = 5)
        val approx = Similarity.ivfFilteredTopK(qs, emb, cells, k = 5,
          baseNProbe = 1, pred)
        Similarity.annRecall(exact, approx)
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_exact")).as("n_exact"),
            sum(col("n_hit")).as("n_hit"))
          .crossJoin(broadcast(
            approx.agg(max(col("n_probe")).as("n_probe"))))
          .select(lit(tag).as("sel_tag"), col("n_probe"),
            col("n_queries"), col("n_exact"), col("n_hit"),
            expr("CAST(n_hit * 1000000 DIV n_exact AS BIGINT)")
              .as("recall_micro"))
      }
      rep("narrow", col("label") === 2)
        .unionByName(rep("broad", col("label") >= 5))
        .orderBy("sel_tag")
    }),

    // INCREMENTAL IVF maintenance: arrivals (every 7th vector,
    // re-ingested under new ids) get the cell id the STORED index
    // would give them — centroids derived from the existing
    // assignment, argmin with the lower-cell tie-break — and the
    // merged view is old ∪ assigned. No retrain per batch (that's a
    // snapshot job); the oracle recomputes the centroids + argmin
    // independently.
    "q_ann_delta_assign" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cells = emb.select(col("vec_id"), col("label").as("cell"))
      val arrivals = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding"))
      cells
        .unionByName(Similarity.assignToCells(arrivals, emb, cells))
        .orderBy("vec_id")
    }),

    // IVF index HEALTH: per-cell population + mean quantization error
    // against the stored centroids — the drift report that decides
    // when the snapshot-time retrain runs (assignToCells keeps
    // ingesting until it trips). One corpus scan vs a |cells|-row
    // broadcast.
    "q_ann_index_health" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfHealth(emb,
          emb.select(col("vec_id"), col("label").as("cell")))
        .orderBy("cell")
    }),

    // snapshot REBUILD-AND-SWAP — the retrain phase the health report
    // gates, completing the lifecycle (seed → maintain → monitor →
    // retrain): centroids recomputed from the CURRENT assignment (one
    // Lloyd update), every vector re-assigned against the WRITTEN new
    // centroids, snapshot swapped with a prev/ rollback copy. The
    // gate is forced open here (threshold −1) for determinism — gate
    // math and the no-op path are spec-pinned in SimilaritySpec. The
    // output reads the SWAPPED store: exactly what an assignment-log
    // consumer sees after retrain. Oracle recomputes the Lloyd step +
    // float-rounded argmin from scratch.
    "q_ann_rebuild" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val store = scratch(s, "graft_ann_rebuild")
      Similarity.seedIvfStore(emb, "label", store)
      val (rebuilt, _, _) = Similarity.rebuildIvfStore(
        emb.select(col("vec_id"), col("embedding")), store,
        maxMeanD2 = -1.0)
      require(rebuilt, "forced health gate must trip")
      s.read.parquet(s"$store/assignment")
        .select(col("vec_id"), col("cell").as("cell_after"))
        .join(emb.select(col("vec_id"),
          col("label").as("cell_before")), Seq("vec_id"))
        .select(col("vec_id"), col("cell_before"), col("cell_after"),
          (col("cell_before") =!= col("cell_after")).cast("int")
            .as("moved"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL kNN-graph maintenance: fold an arrival batch into
    // the at-rest kNN graph without re-running the n²-shaped candidate
    // search — under the frozen quantizer, top-k is a mergeable
    // summary, so the patch is (stored edges re-scored) ∪ (old queries
    // × arrivals in their probed cells) re-taken at k, plus one
    // |delta|-query frozen search for the arrivals' own rows. Arrivals
    // re-keyed +100000 (the q_ann_delta_assign convention — disjoint
    // ids, validated loudly). Oracle = the whole frozen-quantizer
    // graph over corpus ∪ arrivals from scratch.
    "q_knn_delta" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val corpus = emb.filter(col("vec_id") % 7 =!= 0)
      val cells = corpus.select(col("vec_id"), col("label").as("cell"))
      val cents = Similarity.centroidTable(
        corpus.select(col("vec_id"), col("embedding")), cells)
      val arrivals = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding"))
      val oldGraph = Similarity.frozenSearch(corpus, corpus, cells,
        cents, nProbe = 2, k = 3)
      Similarity.knnGraphDelta(oldGraph, corpus, cells, cents,
          arrivals, nProbe = 2, k = 3)
        .orderBy("query_id", "rnk")
    }),

    // margin-scored bitext mining (Artetxe–Schwenk ratio margin):
    // each a's best b, scored by cos divided by the mean of both
    // sides' k-neighbor-ball densities — the hub-correction that
    // makes mined pairs comparable across the embedding space. Same
    // index routing as q_mutual_knn (k-NN per direction through the
    // cell-probed shuffle join); every post-search frame is
    // top-k-output-sized.
    "q_margin_mining" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.marginMiningIndexed(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          cellCol = "label", nProbe = 2, k = 4, minMargin = 0.0)
        .orderBy("a_id")
    }),

    // the nProbe tuning curve in ONE pass — probes ranked once at the
    // max budget, candidates scored once, every budget admits pr <= b
    // from the same scored frame; recall is against the exact
    // brute-force truth the oracle recomputes independently
    "q_ann_probe_frontier" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.probeFrontier(emb.filter(col("vec_id") < 10), emb,
          emb.select(col("vec_id"), col("label").as("cell")), k = 5,
          budgets = Seq(1, 2, 4, 8))
        .orderBy("n_probe")
    }),

    // the matryoshka (prefix-dimension) tuning curve — recall@5 of
    // searching only the first d coordinates vs the full-dim truth,
    // for d ∈ {8,16,32,64} in one corpus pass (the dim-budget dial
    // next to q_ann_probe_frontier's probe budget; d=64 anchors the
    // curve at recall 1.0 by construction)
    "q_ann_matryoshka" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.prefixDimRecall(emb.filter(col("vec_id") < 10), emb,
          k = 5, dims = Seq(8, 16, 32, 64))
        .orderBy("dim")
    }),

    "q_ann_kmeans" -> ((s, d) =>
      Similarity.kmeansCells(t(s, d, "embeddings"), k = 4, iters = 2)),

    // ---- label-supervised eval (LabelEval) — the quality harness over
    // the labeled eval slice: embedding-space classifiers + clustering
    // agreement against the ground-truth `label` column ----------------

    // nearest-centroid classification: fit per-label centroids and
    // classify every vector, emitting per-row correctness
    "q_label_centroid_classify" -> ((s, d) =>
      LabelEval.nearestCentroidClassify(
        t(s, d, "embeddings"), "vec_id", "embedding", "label")),

    // leave-one-out kNN (k=5, cosine) majority-vote classification,
    // reduced to the per-class accuracy report
    "q_knn_classify" -> ((s, d) =>
      LabelEval.classReport(
        LabelEval.knnClassify(
          t(s, d, "embeddings"), "vec_id", "embedding", "label", k = 5))),

    // exact-integer NDCG@5 over labeled retrieval: literal micro
    // discount table (no runtime log), truncating milli ratio — the
    // ranking-quality companion to q_knn_classify / q_auc_rank
    "q_ndcg" -> ((s, d) =>
      LabelEval.ndcgAtK(t(s, d, "embeddings"), "vec_id", "embedding",
          "label", k = 5, col("vec_id") < 50)
        .orderBy("query_id")),

    // MRR@5 first-hit companion: 10^6 / rank of the first same-label
    // neighbor, 0 when the top-5 has none
    "q_mrr" -> ((s, d) =>
      LabelEval.mrrAtK(t(s, d, "embeddings"), "vec_id", "embedding",
          "label", k = 5, col("vec_id") < 50)
        .orderBy("query_id")),

    // contrastive negative pairs: k deterministic md5-keyed draws per
    // anchor, self/same-label collisions dropped
    "q_negative_pairs" -> ((s, d) =>
      LabelEval.negativePairs(
        t(s, d, "embeddings"), "vec_id", "label", k = 4)),

    // confusion matrix of the nearest-centroid classifier
    "q_confusion_matrix" -> ((s, d) =>
      LabelEval.confusionMatrix(
        LabelEval.nearestCentroidClassify(
          t(s, d, "embeddings"), "vec_id", "embedding", "label"))),

    // chance-corrected agreement of the same classifier — one scalar
    // row for the eval dashboard where the confusion matrix is the
    // drill-down
    "q_cohens_kappa" -> ((s, d) =>
      LabelEval.cohensKappa(
        LabelEval.nearestCentroidClassify(
          t(s, d, "embeddings"), "vec_id", "embedding", "label"))),

    // noisy-label filter: per-row distance to own-label centroid,
    // z-scored within the label
    "q_label_outliers" -> ((s, d) =>
      LabelEval.labelOutliers(
        t(s, d, "embeddings"), "vec_id", "embedding", "label")),

    // purity of the LEARNED kmeans cells against ground-truth labels:
    // per-cell size, majority label, majority count
    "q_cluster_purity" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      LabelEval.clusterPurity(
        Similarity.kmeansCells(emb, k = 4, iters = 2),
        emb.select(col("vec_id"), col("label")),
        "vec_id", "cell", "label")
    }),

    // PQ encode: 64-dim vectors → 4 subspace codes from a codebook of
    // 8 centroids per subspace (deterministic per-subspace Lloyd,
    // trained once per process via sharedPqCodebook)
    "q_pq_codes" -> ((s, d) =>
      Similarity.pqAssign(
        Similarity.pqSubvectors(t(s, d, "embeddings"), dim = 64, m = 4),
        sharedPqCodebook(s, d))),

    // ADC top-k over the persisted PQ index — the compressed-domain
    // search path (codes read at rest via sharedPqCodes)
    "q_ann_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = sharedPqCodebook(s, d)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10),
        sharedPqCodes(s, d), cb, subLen = 16, k = 5)
    }),

    // IVF-PQ composed: coarse cells (the stored label, as in q_ann_ivf)
    // restrict candidates; ADC over the persisted codes scores them
    "q_ann_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = sharedPqCodebook(s, d)
      Similarity.ivfPqTopK(
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id"), col("embedding"),
            col("label").as("cell")),
        emb.select(col("vec_id"), col("label").as("cell")),
        sharedPqCodes(s, d), cb, subLen = 16, k = 5)
    }),

    // IVF-PQ with the multi-probe recall dial: each query fans out to
    // its 3 nearest cells (by stored-assignment centroids) before the
    // same ADC scoring — at 10 label-cells this searches ~30% of the
    // corpus per query instead of ~10%
    "q_ann_ivfpq_probe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = sharedPqCodebook(s, d)
      val cells = emb.select(col("vec_id"), col("label").as("cell"))
      Similarity.ivfPqMultiProbe(
        emb.filter(col("vec_id") < 10), emb, cells,
        sharedPqCodes(s, d), cb, subLen = 16, k = 5,
        nProbe = 3)
    }),

    // population covariance of the 64-dim embedding matrix: ONE
    // distributed moment pass (exact decimal sums, map-side combined),
    // then a bounded d²-row finish — the training pass behind PCA
    "q_emb_covariance" -> ((s, d) =>
      Similarity.covariance(t(s, d, "embeddings"), "embedding", dim = 64)
        .select(col("i"), col("j"),
          graft.ops.analytics.roundDouble(col("cov"), 10).as("cov"))),

    // PCA fit + project in ONE corpus pass: the staged moment sums feed
    // covariance (→ driver-side d×d Jacobi — legal: d² values regardless
    // of corpus size) AND the centering mean; projection is one
    // broadcast, no corpus shuffle. The eigensolver has no SQL twin, so
    // this is the verdict form (the sketch-oracle pattern): per-row
    // invariant booleans (independent-path projection match, Parseval
    // bound, orthonormality, centering, eigen-order, data-side variance
    // ≡ eigenvalue) plus the two quantities DuckDB computes exactly from
    // the raw table — row count and covariance trace. PcaSpec pins the
    // raw projection math.
    "q_pca_project" -> ((s, d) =>
      Similarity.pcaVerdict(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, k = 4)),

    // int8 scalar quantization: per-dim (min,max) calibration in one
    // map-side-combined pass, then scan-local encode against the
    // broadcast params — the 4× storage shrink for a quantized ANN index
    "q_emb_int8_codes" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.int8Quantize(emb, "vec_id", "embedding",
        Similarity.int8QuantParams(emb, "embedding", dim = 64))
        .select(col("vec_id"),
          array_join(transform(col("codes"), _.cast("string")), "|")
            .as("codes"))
    }),

    // quantization quality gate: corpus (n, mean_mse, max_mse) of the
    // int8 reconstruction — one scan, decimal-sum deterministic
    "q_emb_int8_stats" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.int8ReconError(emb, "vec_id", "embedding", dim = 64,
        Similarity.int8QuantParams(emb, "embedding", dim = 64))
    }),

    // asymmetric int8 ANN: full-precision queries against the
    // int8-coded corpus — the stored side streams one tinyint per dim
    "q_ann_int8" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val params = Similarity.int8QuantParams(emb, "embedding", dim = 64)
      Similarity.int8TopK(emb.filter(col("vec_id") < 10),
        Similarity.int8Quantize(emb, "vec_id", "embedding", params),
        params, k = 5)
    }),

    // the eval harness the quantized index is admitted under: per-query
    // recall@5 of int8 search vs the exact brute-force answer
    "q_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val params = Similarity.int8QuantParams(emb, "embedding", dim = 64)
      Similarity.annRecall(
        Similarity.bruteForceTopK(q, emb, k = 5),
        Similarity.int8TopK(q,
          Similarity.int8Quantize(emb, "vec_id", "embedding", params),
          params, k = 5))
    }),

    // Johnson-Lindenstrauss ±1 projection to 8 dims: md5-derived sign
    // matrix (engine-regenerable, no RNG state), one broadcast,
    // scan-local — the train-free cheap shrink before LSH/clustering
    "q_rp_project" -> ((s, d) =>
      Similarity.rpProject(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 8)
        .select(col("vec_id"), col("component"),
          round(col("coord"), 6).as("coord"))),

    // two-stage retrieval: coarse top-20 in the 8-dim JL space, exact
    // rerank to top-5 — recall errors can only be coarse-cut misses
    "q_ann_rp_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.rpRerankTopK(emb.filter(col("vec_id") < 10), emb,
        dim = 64, kProj = 8, coarseK = 20, k = 5)
    }),

    // ---- embedding distribution drift ---------------------------------------
    // per-dim mean shift between two snapshot halves — the embedding-
    // space companion to q_source_kl's text drift: a re-embedded or
    // contaminated corpus moves these means. One posexplode pass, exact
    // decimal sums, the d-row frame finishes with fixed-order division
    "q_emb_drift" -> ((s, d) => {
      val g = t(s, d, "embeddings")
        .select((col("vec_id") % 2 === 0).as("snap_a"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim", "snap_a")
        .agg(sum(col("x").cast("double").cast("decimal(28,12)"))
          .as("sx"), count(lit(1)).as("n"))
        .stage()
      val a = g.filter(col("snap_a")).select(col("dim"),
        (col("sx").cast("double") / col("n")).as("ma"))
      val b = g.filter(!col("snap_a")).select(col("dim"),
        (col("sx").cast("double") / col("n")).as("mb"))
      a.join(b, Seq("dim"))
        .select(col("dim"), round(col("ma"), 6).as("mean_a"),
          round(col("mb"), 6).as("mean_b"),
          round(col("ma") - col("mb"), 6).as("delta"))
        .orderBy("dim")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_semdedup" ->
      """WITH v AS (
           SELECT vec_id, label AS cell,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         p AS (
           SELECT b.vec_id AS ib
           FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))) >= 0.4)
         SELECT vec_id, cell FROM v
         WHERE vec_id NOT IN (SELECT ib FROM p)""",

    "q_embedding_buckets" -> embeddingBucketsSql(4, 6),

    "q_ann_bruteforce" -> annSql("c.vec_id <> q.vec_id", "q.vec_id < 10"),

    // first same-label rank per query, reciprocal in truncating micros
    "q_mrr" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, q.label AS ql,
                  c.vec_id AS neighbor_id, c.label AS nl,
                  list_dot_product(q.emb, c.emb) /
                    (sqrt(list_dot_product(q.emb, q.emb)) *
                     sqrt(list_dot_product(c.emb, c.emb))) AS cos
           FROM v q JOIN v c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 50),
         top AS (
           SELECT query_id, ql, nl,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rnk
           FROM scored),
         per AS (
           SELECT query_id,
                  min(CASE WHEN ql = nl THEN rnk END) AS fr
           FROM top WHERE rnk <= 5 GROUP BY query_id)
         SELECT query_id,
                COALESCE(fr, 0)::BIGINT AS first_rel_rnk,
                COALESCE((1000000 // fr), 0)::BIGINT AS rr_micro
         FROM per ORDER BY query_id""",

    // same neighbor definition as annSql; literal discount table and
    // its prefix sums, truncating milli division
    "q_ndcg" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, q.label AS ql,
                  c.vec_id AS neighbor_id, c.label AS nl,
                  list_dot_product(q.emb, c.emb) /
                    (sqrt(list_dot_product(q.emb, q.emb)) *
                     sqrt(list_dot_product(c.emb, c.emb))) AS cos
           FROM v q JOIN v c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 50),
         top AS (
           SELECT query_id, ql, nl,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rnk
           FROM scored),
         w(rnk, w) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
                              (4, 430677), (5, 386853)),
         per AS (
           SELECT query_id,
                  sum(CASE WHEN ql = nl THEN w.w ELSE 0 END)::BIGINT
                    AS dcg_micro,
                  sum(CASE WHEN ql = nl THEN 1 ELSE 0 END)::BIGINT
                    AS n_rel
           FROM top JOIN w USING (rnk)
           WHERE top.rnk <= 5
           GROUP BY query_id),
         fin AS (
           SELECT query_id, n_rel, dcg_micro,
                  (CASE n_rel WHEN 1 THEN 1000000 WHEN 2 THEN 1630930
                        WHEN 3 THEN 2130930 WHEN 4 THEN 2561607
                        WHEN 5 THEN 2948460 ELSE 0 END)::BIGINT
                    AS idcg_micro
           FROM per)
         SELECT query_id, n_rel, dcg_micro, idcg_micro,
                CASE WHEN idcg_micro > 0
                     THEN (dcg_micro * 1000 // idcg_micro)::BIGINT
                     ELSE 0 END AS ndcg_milli
         FROM fin ORDER BY query_id""",

    "q_mutual_knn" -> mutualKnnSql,

    "q_knn_graph" -> knnGraphSql,

    "q_semantic_clusters" -> semanticClustersSql,

    "q_margin_mining" -> marginMiningSql,

    // per-cell population + mean squared distance to the float-rounded
    // stored centroid (the engine's exact precision path)
    "q_ann_index_health" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         cent AS (
           SELECT label AS cell, list(s ORDER BY j) AS c FROM (
             SELECT label, j, sum(emb[j]) / count(*) AS s
             FROM v, range(1, 65) t(j) GROUP BY label, j)
           GROUP BY label),
         d AS (
           SELECT x.label AS cell,
                  list_dot_product(x.emb, x.emb)
                    - 2 * list_dot_product(x.emb,
                        (cent.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((cent.c::FLOAT[])::DOUBLE[],
                        (cent.c::FLOAT[])::DOUBLE[]) AS d2
           FROM v x JOIN cent ON cent.cell = x.label)
         SELECT cell, count(*)::BIGINT AS n_vecs,
                round(avg(d2), 6) AS mean_d2
         FROM d GROUP BY cell ORDER BY cell""",

    // merged assignment view: stored cells pass through, arrivals get
    // the argmin over centroids derived from the stored assignment
    // (float-rounded, the rankedProbes precision path), lower cell on
    // ties
    "q_ann_delta_assign" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         cent AS (
           SELECT label AS cell, list(s ORDER BY j) AS c FROM (
             SELECT label, j, sum(emb[j]) / count(*) AS s
             FROM v, range(1, 65) t(j) GROUP BY label, j)
           GROUP BY label),
         arr AS (SELECT vec_id + 100000 AS vec_id, emb
                 FROM v WHERE vec_id % 7 = 0),
         asg AS (
           SELECT vec_id, cell FROM (
             SELECT a.vec_id, cent.cell,
                    row_number() OVER (PARTITION BY a.vec_id
                      ORDER BY -2 * list_dot_product(a.emb,
                          (cent.c::FLOAT[])::DOUBLE[])
                        + list_dot_product(
                            (cent.c::FLOAT[])::DOUBLE[],
                            (cent.c::FLOAT[])::DOUBLE[]),
                        cent.cell) AS pr
             FROM arr a CROSS JOIN cent)
           WHERE pr = 1)
         SELECT vec_id, cell FROM (
           SELECT vec_id, label AS cell FROM v
           UNION ALL SELECT vec_id, cell FROM asg)
         ORDER BY vec_id""",

    // rebuild-and-swap mirror: one Lloyd update from the label
    // assignment (centroids = per-cell means), then EVERY vector
    // re-assigned by the float-rounded argmin (lower cell on ties) —
    // the from-scratch recomputation of what the swapped store holds
    "q_ann_rebuild" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         cent AS (
           SELECT label AS cell, list(s ORDER BY j) AS c FROM (
             SELECT label, j, sum(emb[j]) / count(*) AS s
             FROM v, range(1, 65) t(j) GROUP BY label, j)
           GROUP BY label),
         asg AS (
           SELECT vec_id, cell FROM (
             SELECT a.vec_id, cent.cell,
                    row_number() OVER (PARTITION BY a.vec_id
                      ORDER BY -2 * list_dot_product(a.emb,
                          (cent.c::FLOAT[])::DOUBLE[])
                        + list_dot_product(
                            (cent.c::FLOAT[])::DOUBLE[],
                            (cent.c::FLOAT[])::DOUBLE[]),
                        cent.cell) AS pr
             FROM v a CROSS JOIN cent)
           WHERE pr = 1)
         SELECT v.vec_id, v.label AS cell_before,
                asg.cell AS cell_after,
                CASE WHEN v.label <> asg.cell THEN 1 ELSE 0 END AS moved
         FROM v JOIN asg USING (vec_id)
         ORDER BY vec_id""",

    // incremental kNN-graph mirror: the FROM-SCRATCH frozen-quantizer
    // graph over corpus ∪ re-keyed arrivals — centroids from the
    // corpus slice only (the snapshot), arrivals cell-assigned by the
    // float-rounded argmin, probes pr <= 2 for every union query,
    // candidates matched by snapshot cell, top-3 per query
    "q_knn_delta" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         corp AS (SELECT * FROM v WHERE vec_id % 7 <> 0),
         cent AS (
           SELECT label AS cell, list(s ORDER BY j) AS c FROM (
             SELECT label, j, sum(emb[j]) / count(*) AS s
             FROM corp, range(1, 65) t(j) GROUP BY label, j)
           GROUP BY label),
         arr AS (SELECT vec_id + 100000 AS vec_id, emb
                 FROM v WHERE vec_id % 7 = 0),
         acell AS (
           SELECT vec_id, cell FROM (
             SELECT a.vec_id, ct.cell,
                    row_number() OVER (PARTITION BY a.vec_id
                      ORDER BY -2 * list_dot_product(a.emb,
                          (ct.c::FLOAT[])::DOUBLE[])
                        + list_dot_product(
                            (ct.c::FLOAT[])::DOUBLE[],
                            (ct.c::FLOAT[])::DOUBLE[]),
                        ct.cell) AS pr
             FROM arr a CROSS JOIN cent ct)
           WHERE pr = 1),
         u AS (SELECT vec_id, label AS cell, emb FROM corp
               UNION ALL
               SELECT a.vec_id, acell.cell, a.emb
               FROM arr a JOIN acell USING (vec_id)),
         p AS (
           SELECT query_id, q_emb, cell FROM (
             SELECT q.vec_id AS query_id, q.emb AS q_emb, ct.cell,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY -2 * list_dot_product(q.emb,
                          (ct.c::FLOAT[])::DOUBLE[])
                        + list_dot_product(
                            (ct.c::FLOAT[])::DOUBLE[],
                            (ct.c::FLOAT[])::DOUBLE[]),
                        ct.cell) AS pr
             FROM u q CROSS JOIN cent ct)
           WHERE pr <= 2),
         knn AS (
           SELECT query_id, neighbor_id, rnk, cos FROM (
             SELECT p.query_id, c.vec_id AS neighbor_id,
                    list_dot_product(p.q_emb, c.emb) /
                      (sqrt(list_dot_product(p.q_emb, p.q_emb)) *
                       sqrt(list_dot_product(c.emb, c.emb))) AS cos,
                    row_number() OVER (PARTITION BY p.query_id
                      ORDER BY list_dot_product(p.q_emb, c.emb) /
                        (sqrt(list_dot_product(p.q_emb, p.q_emb)) *
                         sqrt(list_dot_product(c.emb, c.emb))) DESC,
                        c.vec_id ASC) AS rnk
             FROM p JOIN u c ON c.cell = p.cell
                     AND c.vec_id <> p.query_id)
           WHERE rnk <= 3)
         SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos
         FROM knn ORDER BY query_id, rnk""",

    // raw dot-product ranking; DOUBLE[] casts for the same reason as
    // annSql (FLOAT accumulation flips near-ties)
    "q_ann_mips" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_dot_product(q.emb, c.emb) AS ip
           FROM v q JOIN v c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, rnk, round(ip, 6) AS ip
         FROM (SELECT query_id, neighbor_id, ip,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY ip DESC, neighbor_id ASC) AS rnk
               FROM scored)
         WHERE rnk <= 5""",

    "q_ann_ivf" ->
      annSql("c.vec_id <> q.vec_id AND c.label = q.label", "q.vec_id < 20"),

    // probeFrontier mirror: centroids/probe ranks as in the engine
    // (float-rounded, double-accumulated), every budget admits pr <=
    // n_probe from ONE scored set, truth = exact brute-force top-5
    "q_ann_probe_frontier" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         cent AS (
           SELECT label AS cell, list(s ORDER BY j) AS c FROM (
             SELECT label, j, sum(emb[j]) / count(*) AS s
             FROM v, range(1, 65) t(j) GROUP BY label, j)
           GROUP BY label),
         pr AS (
           SELECT query_id, q_emb, cell, pr FROM (
             SELECT q.vec_id AS query_id, q.emb AS q_emb, cent.cell,
                    row_number() OVER (PARTITION BY q.vec_id ORDER BY
                      -2 * list_dot_product(q.emb,
                             (cent.c::FLOAT[])::DOUBLE[])
                        + list_dot_product(
                            (cent.c::FLOAT[])::DOUBLE[],
                            (cent.c::FLOAT[])::DOUBLE[]),
                      cent.cell) AS pr
             FROM v q CROSS JOIN cent
             WHERE q.vec_id < 10)
           WHERE pr <= 8),
         b AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
         sc AS (
           SELECT b.n_probe, p.query_id, c.vec_id AS neighbor_id,
                  list_dot_product(p.q_emb, c.emb) /
                    (sqrt(list_dot_product(p.q_emb, p.q_emb)) *
                     sqrt(list_dot_product(c.emb, c.emb))) AS cos
           FROM pr p
           JOIN v c ON c.label = p.cell AND c.vec_id <> p.query_id
           JOIN b ON p.pr <= b.n_probe),
         ap AS (
           SELECT n_probe, query_id, neighbor_id FROM (
             SELECT n_probe, query_id, neighbor_id,
                    row_number() OVER (PARTITION BY n_probe, query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rnk
             FROM sc)
           WHERE rnk <= 5),
         cand AS (SELECT n_probe, count(*) AS cs FROM sc GROUP BY 1),
         ex AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_dot_product(q.emb, c.emb) /
                        (sqrt(list_dot_product(q.emb, q.emb)) *
                         sqrt(list_dot_product(c.emb, c.emb))) DESC,
                        c.vec_id ASC) AS rnk
             FROM v q JOIN v c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 10)
           WHERE rnk <= 5),
         exa AS (SELECT count(DISTINCT query_id) AS n_queries,
                        count(*) AS n_exact FROM ex),
         hits AS (SELECT n_probe, count(*) AS n_hit
                  FROM ap JOIN ex USING (query_id, neighbor_id)
                  GROUP BY 1)
         SELECT cand.n_probe::BIGINT AS n_probe,
                exa.n_queries::BIGINT AS n_queries,
                exa.n_exact::BIGINT AS n_exact,
                COALESCE(hits.n_hit, 0)::BIGINT AS n_hit,
                CAST(COALESCE(hits.n_hit, 0) * 1000000 // exa.n_exact
                  AS BIGINT) AS recall_micro,
                cand.cs::BIGINT AS candidates_scanned
         FROM cand LEFT JOIN hits USING (n_probe) CROSS JOIN exa
         ORDER BY n_probe""",

    // prefixDimRecall mirror: per-dim cosine over list_slice prefixes
    // of the SAME double-cast vectors, truth = exact full-dim top-5
    "q_ann_matryoshka" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
         dims(dim) AS (VALUES (8), (16), (32), (64)),
         scored AS (
           SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_dot_product(list_slice(q.e, 1, d.dim),
                                   list_slice(c.e, 1, d.dim)) /
                    NULLIF(
                      sqrt(list_dot_product(list_slice(q.e, 1, d.dim),
                                            list_slice(q.e, 1, d.dim))) *
                      sqrt(list_dot_product(list_slice(c.e, 1, d.dim),
                                            list_slice(c.e, 1, d.dim))),
                      0) AS cos
           FROM v q JOIN v c ON c.vec_id <> q.vec_id
           CROSS JOIN dims d
           WHERE q.vec_id < 10),
         ap AS (
           SELECT dim, query_id, neighbor_id FROM (
             SELECT dim, query_id, neighbor_id,
                    row_number() OVER (PARTITION BY dim, query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rnk
             FROM scored WHERE cos IS NOT NULL)
           WHERE rnk <= 5),
         ex AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rnk
             FROM (SELECT q.vec_id AS query_id,
                          c.vec_id AS neighbor_id,
                          list_dot_product(q.e, c.e) /
                            NULLIF(sqrt(list_dot_product(q.e, q.e)) *
                                   sqrt(list_dot_product(c.e, c.e)), 0)
                            AS cos
                   FROM v q JOIN v c ON c.vec_id <> q.vec_id
                   WHERE q.vec_id < 10)
             WHERE cos IS NOT NULL)
           WHERE rnk <= 5),
         exa AS (SELECT count(DISTINCT query_id) AS n_queries,
                        count(*) AS n_exact FROM ex),
         hits AS (SELECT dim, count(*) AS n_hit
                  FROM ap JOIN ex USING (query_id, neighbor_id)
                  GROUP BY 1)
         SELECT dims.dim, exa.n_queries::BIGINT AS n_queries,
                exa.n_exact::BIGINT AS n_exact,
                COALESCE(hits.n_hit, 0)::BIGINT AS n_hit,
                CAST(COALESCE(hits.n_hit, 0) * 1000000 // exa.n_exact
                  AS BIGINT) AS recall_micro
         FROM dims LEFT JOIN hits USING (dim) CROSS JOIN exa
         ORDER BY dim""",

    "q_ann_filtered" ->
      annSql("c.vec_id <> q.vec_id AND c.label = 2", "q.vec_id < 10"),

    // the widened-probe pipeline at the broad filter (sel 0.5 →
    // nprobe 2); n_probe recomputed in-SQL from the same counts
    "q_ann_filtered_probe" ->
      ("WITH " + filteredProbeCtes("b", "c.label >= 5") +
        """ SELECT query_id, neighbor_id, rnk, cos,
                  (SELECT nprobe FROM npb) AS n_probe
           FROM apb ORDER BY query_id, rnk"""),

    // recall vs the exact filtered brute force at both selectivities;
    // integer-micro recall, nothing float-summed
    "q_ann_filtered_recall" ->
      ("WITH " + filteredProbeCtes("n", "c.label = 2") + ", " +
        filteredProbeCtes("b", "c.label >= 5") +
        """ SELECT * FROM (
             SELECT 'narrow' AS sel_tag, n_probe, n_queries, n_exact,
                    n_hit,
                    CAST(n_hit * 1000000 // n_exact AS BIGINT)
                      AS recall_micro
             FROM repn
             UNION ALL
             SELECT 'broad', n_probe, n_queries, n_exact, n_hit,
                    CAST(n_hit * 1000000 // n_exact AS BIGINT)
             FROM repb)
           ORDER BY sel_tag"""),

    // q_ann_kmeans's unrolled-Lloyd CTE chain, then the q_semdedup
    // suffix on the LEARNED cells instead of the stored label
    "q_semdedup_kmeans" ->
      """WITH v0 AS (SELECT vec_id, embedding AS e FROM embeddings),
         c0 AS (
           SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell,
                  e::DOUBLE[] AS c
           FROM v0 ORDER BY vec_id LIMIT 4),
         d1 AS (
           SELECT v0.vec_id, c0.cell,
                  -2 * list_dot_product(v0.e::DOUBLE[],
                         (c0.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c0.c::FLOAT[])::DOUBLE[],
                        (c0.c::FLOAT[])::DOUBLE[]) AS d
           FROM v0 CROSS JOIN c0),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d, cell) AS rn
             FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT cell, list(s ORDER BY j) AS c FROM (
             SELECT a1.cell, j, sum(v0.e[j]::DOUBLE) / count(*) AS s
             FROM v0 JOIN a1 USING (vec_id), range(1, 65) t(j)
             GROUP BY a1.cell, j)
           GROUP BY cell),
         d2 AS (
           SELECT v0.vec_id, m1.cell,
                  -2 * list_dot_product(v0.e::DOUBLE[],
                         (m1.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                        (m1.c::FLOAT[])::DOUBLE[]) AS d
           FROM v0 CROSS JOIN m1),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d, cell) AS rn
             FROM d2) WHERE rn = 1),
         v AS (
           SELECT a2.vec_id, a2.cell,
                  list_transform(v0.e, x -> x::DOUBLE) AS emb
           FROM a2 JOIN v0 USING (vec_id)),
         p AS (
           SELECT b.vec_id AS ib
           FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))) >= 0.4)
         SELECT vec_id, cell FROM v
         WHERE vec_id NOT IN (SELECT ib FROM p)""",

    // Two unrolled Lloyd iterations; mirrors Similarity.kmeansCells
    // (k=4, iters=2): init = 4 lowest-id vectors, argmin of
    // -2<x,c>+<c,c> with ties to the lower cell, elementwise-mean update.
    "q_ann_kmeans" ->
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         c0 AS (
           SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell,
                  e::DOUBLE[] AS c
           FROM v ORDER BY vec_id LIMIT 4),
         d1 AS (
           SELECT v.vec_id, c0.cell,
                  -- float-rounded centroid, DOUBLE[] accumulation: FLOAT[]
                  -- inputs make list_dot_product sum in float, whose
                  -- ~1e-5 error flips near-tie argmins vs Spark's double
                  -2 * list_dot_product(v.e::DOUBLE[],
                         (c0.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c0.c::FLOAT[])::DOUBLE[],
                        (c0.c::FLOAT[])::DOUBLE[]) AS d
           FROM v CROSS JOIN c0),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d, cell) AS rn
             FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT cell, list(s ORDER BY j) AS c FROM (
             SELECT a1.cell, j, sum(v.e[j]::DOUBLE) / count(*) AS s
             FROM v JOIN a1 USING (vec_id), range(1, 65) t(j)
             GROUP BY a1.cell, j)
           GROUP BY cell),
         d2 AS (
           SELECT v.vec_id, m1.cell,
                  -2 * list_dot_product(v.e::DOUBLE[],
                         (m1.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                        (m1.c::FLOAT[])::DOUBLE[]) AS d
           FROM v CROSS JOIN m1),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d, cell) AS rn
             FROM d2) WHERE rn = 1)
         SELECT vec_id, cell FROM a2""",

    // Mirrors LabelEval.nearestCentroidClassify: per-label mean through
    // an exact DECIMAL(28,12) sum (bit-stable across engines), then
    // argmin of -2<x,c>+<c,c> with distance ties toward the lower label.
    // Centroids round through FLOAT (the kmeans convention) and both dot
    // operands are DOUBLE[] per the list_dot_product accumulation rule.
    "q_label_centroid_classify" ->
      """WITH v AS (SELECT vec_id, label,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         c AS (
           SELECT label AS cand, list(mu ORDER BY j) AS c FROM (
             SELECT label, t.j AS j,
                    sum(CAST(e[t.j + 1] AS DECIMAL(28,12)))::DOUBLE
                      / count(*) AS mu
             FROM v, range(0, 64) t(j)
             GROUP BY label, t.j)
           GROUP BY label),
         d AS (
           SELECT v.vec_id, v.label, c.cand,
                  -2 * list_dot_product(v.e, (c.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c.c::FLOAT[])::DOUBLE[],
                        (c.c::FLOAT[])::DOUBLE[]) AS d
           FROM v CROSS JOIN c)
         SELECT vec_id, label, cand AS pred,
                (label = cand)::INT AS correct
         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY d, cand) AS rn
               FROM d)
         WHERE rn = 1""",

    // Mirrors LabelEval.negativePairs: rank = dense row_number over
    // vec_id, draw rank = first-8-hex md5(anchor_j) mod N, self and
    // same-label draws dropped.
    "q_negative_pairs" ->
      """WITH r AS (SELECT vec_id AS nid, label AS nlabel,
                           row_number() OVER (ORDER BY vec_id) - 1
                             AS rank
                    FROM embeddings),
         n AS (SELECT count(*) AS n FROM embeddings),
         d AS (SELECT e.vec_id AS anchor, e.label AS alabel, j.j AS j,
                      ('0x' || substr(md5(e.vec_id::VARCHAR || '_' ||
                        j.j::VARCHAR), 1, 8))::BIGINT % n.n AS rank
               FROM embeddings e CROSS JOIN range(0, 4) j(j)
               CROSS JOIN n)
         SELECT d.anchor, d.j, r.nid AS negative
         FROM d JOIN r USING (rank)
         WHERE r.nid <> d.anchor AND r.nlabel <> d.alabel""",

    // q_label_centroid_classify's argmin chain, grouped to the
    // |labels|² confusion counts
    "q_confusion_matrix" ->
      """WITH v AS (SELECT vec_id, label,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         c AS (
           SELECT label AS cand, list(mu ORDER BY j) AS c FROM (
             SELECT label, t.j AS j,
                    sum(CAST(e[t.j + 1] AS DECIMAL(28,12)))::DOUBLE
                      / count(*) AS mu
             FROM v, range(0, 64) t(j)
             GROUP BY label, t.j)
           GROUP BY label),
         d AS (
           SELECT v.vec_id, v.label, c.cand,
                  -2 * list_dot_product(v.e, (c.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c.c::FLOAT[])::DOUBLE[],
                        (c.c::FLOAT[])::DOUBLE[]) AS d
           FROM v CROSS JOIN c),
         p AS (
           SELECT vec_id, label, cand AS pred
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d, cand) AS rn
                 FROM d)
           WHERE rn = 1)
         SELECT label, pred, count(*)::BIGINT AS n
         FROM p GROUP BY label, pred""",

    // same classifier CTEs as q_confusion_matrix, then the kappa
    // arithmetic on the bounded confusion matrix
    "q_cohens_kappa" ->
      """WITH v AS (SELECT vec_id, label,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         c AS (
           SELECT label AS cand, list(mu ORDER BY j) AS c FROM (
             SELECT label, t.j AS j,
                    sum(CAST(e[t.j + 1] AS DECIMAL(28,12)))::DOUBLE
                      / count(*) AS mu
             FROM v, range(0, 64) t(j)
             GROUP BY label, t.j)
           GROUP BY label),
         d AS (
           SELECT v.vec_id, v.label, c.cand,
                  -2 * list_dot_product(v.e, (c.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c.c::FLOAT[])::DOUBLE[],
                        (c.c::FLOAT[])::DOUBLE[]) AS d
           FROM v CROSS JOIN c),
         p AS (
           SELECT vec_id, label, cand AS pred
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d, cand) AS rn
                 FROM d)
           WHERE rn = 1),
         m AS (SELECT label, pred, count(*)::BIGINT AS n
               FROM p GROUP BY label, pred),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                        CAST(SUM(CASE WHEN label = pred THEN n
                                      ELSE 0 END) AS BIGINT) AS agree
                 FROM m),
         rw AS (SELECT label, SUM(n) AS rn FROM m GROUP BY label),
         cl AS (SELECT pred, SUM(n) AS cn FROM m GROUP BY pred),
         x AS (SELECT CAST(SUM(rn * cn) AS BIGINT) AS crs
               FROM rw JOIN cl ON rw.label = cl.pred)
         SELECT round(agree::DOUBLE / nn, 6) AS po,
                round(crs::DOUBLE / (nn * nn), 6) AS pe,
                round((agree::DOUBLE / nn - crs::DOUBLE / (nn * nn)) /
                  nullif(1.0 - crs::DOUBLE / (nn * nn), 0.0), 6)
                  AS kappa
         FROM tot, x""",

    // Mirrors LabelEval.labelOutliers: euclidean distance to the OWN
    // label's float-rounded centroid, z-scored against the label's
    // population stats (exact decimal moment sums); sd = 0 → z = 0.
    "q_label_outliers" ->
      """WITH v AS (SELECT vec_id, label,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         c AS (
           SELECT label, list(mu ORDER BY j) AS c FROM (
             SELECT label, t.j AS j,
                    sum(CAST(e[t.j + 1] AS DECIMAL(28,12)))::DOUBLE
                      / count(*) AS mu
             FROM v, range(0, 64) t(j)
             GROUP BY label, t.j)
           GROUP BY label),
         sc AS (
           SELECT v.vec_id, v.label,
                  sqrt(greatest(
                    list_dot_product(v.e, v.e)
                      - list_dot_product(v.e, (c.c::FLOAT[])::DOUBLE[]) * 2
                      + list_dot_product((c.c::FLOAT[])::DOUBLE[],
                          (c.c::FLOAT[])::DOUBLE[]),
                    0)) AS dist
           FROM v JOIN c USING (label)),
         st AS (
           SELECT label,
                  sum(CAST(dist AS DECIMAL(28,12)))::DOUBLE / count(*)
                    AS mu,
                  sqrt(greatest(
                    sum(CAST(dist * dist AS DECIMAL(28,12)))::DOUBLE
                        / count(*)
                      - (sum(CAST(dist AS DECIMAL(28,12)))::DOUBLE
                          / count(*))
                        * (sum(CAST(dist AS DECIMAL(28,12)))::DOUBLE
                            / count(*)),
                    0)) AS sd
           FROM sc GROUP BY label)
         SELECT sc.vec_id, sc.label, round(sc.dist, 6) AS dist,
                round(CASE WHEN st.sd > 0
                           THEN (sc.dist - st.mu) / st.sd
                           ELSE 0.0 END, 4) AS z
         FROM sc JOIN st USING (label)""",

    // Mirrors LabelEval.knnClassify + classReport: leave-one-out kNN
    // (k=5, cosine over DOUBLE[]), neighbor ties by similarity desc then
    // id asc, vote ties by count desc then label asc, reduced to the
    // per-class accuracy report.
    "q_knn_classify" ->
      """WITH v AS (SELECT vec_id, label,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         p AS (
           SELECT a.vec_id AS qid, a.label AS qlabel,
                  b.vec_id AS nid, b.label AS nlabel,
                  list_dot_product(a.e, b.e) /
                    (sqrt(list_dot_product(a.e, a.e)) *
                     sqrt(list_dot_product(b.e, b.e))) AS cos
           FROM v a JOIN v b ON a.vec_id <> b.vec_id
           WHERE list_dot_product(a.e, a.e) > 0
             AND list_dot_product(b.e, b.e) > 0),
         t AS (
           SELECT qid, qlabel, nlabel FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, nid) AS rn
             FROM p)
           WHERE rn <= 5),
         votes AS (
           SELECT qid, qlabel, nlabel, count(*) AS votes
           FROM t GROUP BY 1, 2, 3),
         pred AS (
           SELECT qid, qlabel, nlabel AS pred FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
                                          ORDER BY votes DESC, nlabel)
                         AS rn
             FROM votes)
           WHERE rn = 1)
         SELECT qlabel AS label, count(*)::BIGINT AS n,
                sum((qlabel = pred)::INT)::BIGINT AS n_correct,
                round(sum((qlabel = pred)::INT)::DOUBLE / count(*), 6)
                  AS acc
         FROM pred GROUP BY qlabel""",

    // q_ann_kmeans's unrolled-Lloyd chain, finished with the
    // LabelEval.clusterPurity suffix: per-cell size, majority label
    // (ties toward the lower label), majority count.
    "q_cluster_purity" ->
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         c0 AS (
           SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell,
                  e::DOUBLE[] AS c
           FROM v ORDER BY vec_id LIMIT 4),
         d1 AS (
           SELECT v.vec_id, c0.cell,
                  -2 * list_dot_product(v.e::DOUBLE[],
                         (c0.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c0.c::FLOAT[])::DOUBLE[],
                        (c0.c::FLOAT[])::DOUBLE[]) AS d
           FROM v CROSS JOIN c0),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d, cell) AS rn
             FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT cell, list(s ORDER BY j) AS c FROM (
             SELECT a1.cell, j, sum(v.e[j]::DOUBLE) / count(*) AS s
             FROM v JOIN a1 USING (vec_id), range(1, 65) t(j)
             GROUP BY a1.cell, j)
           GROUP BY cell),
         d2 AS (
           SELECT v.vec_id, m1.cell,
                  -2 * list_dot_product(v.e::DOUBLE[],
                         (m1.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                        (m1.c::FLOAT[])::DOUBLE[]) AS d
           FROM v CROSS JOIN m1),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d, cell) AS rn
             FROM d2) WHERE rn = 1),
         g AS (
           SELECT a2.cell, emb.label, count(*) AS cnt
           FROM a2 JOIN embeddings emb USING (vec_id)
           GROUP BY 1, 2),
         m AS (
           SELECT cell, label AS majority_label, cnt AS n_majority FROM (
             SELECT *, row_number() OVER (PARTITION BY cell
                                          ORDER BY cnt DESC, label) AS rn
             FROM g)
           WHERE rn = 1)
         SELECT s.cell, s.n, m.majority_label, m.n_majority
         FROM (SELECT cell, sum(cnt)::BIGINT AS n FROM g GROUP BY cell) s
         JOIN m USING (cell)""",

    // shared structure with q_ann_pq: per-subspace Lloyd (init = 8
    // lowest-id vectors' subvectors, one update round), float-rounded
    // centroids, DOUBLE[] dot accumulation (FLOAT[] inputs make DuckDB
    // sum in float and flip near-tie argmins vs Spark's double math)
    "q_pq_codes" ->
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         sv AS (
           SELECT vec_id, j::INT AS sub,
                  (e[(j*16+1):(j*16+16)])::DOUBLE[] AS sv
           FROM v, range(0, 4) t(j)),
         ids AS (
           SELECT vec_id,
                  (row_number() OVER (ORDER BY vec_id) - 1)::INT AS code
           FROM v ORDER BY vec_id LIMIT 8),
         c0 AS (
           SELECT sv.sub, ids.code, sv.sv AS c
           FROM sv JOIN ids USING (vec_id)),
         d1 AS (
           SELECT sv.vec_id, sv.sub, c0.code,
                  -2 * list_dot_product(sv.sv, (c0.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c0.c::FLOAT[])::DOUBLE[],
                        (c0.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN c0 ON sv.sub = c0.sub),
         a1 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT sub, code, list(s ORDER BY j) AS c FROM (
             SELECT a1.sub, a1.code, j, sum(sv.sv[j]) / count(*) AS s
             FROM sv JOIN a1 ON sv.vec_id = a1.vec_id
                            AND sv.sub = a1.sub,
                  range(1, 17) t(j)
             GROUP BY a1.sub, a1.code, j)
           GROUP BY sub, code),
         d2 AS (
           SELECT sv.vec_id, sv.sub, m1.code,
                  -2 * list_dot_product(sv.sv, (m1.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                        (m1.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN m1 ON sv.sub = m1.sub),
         a2 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d2) WHERE rn = 1)
         SELECT vec_id, sub, code FROM a2""",

    // q_ann_pq's CTE chain with one change: the final ADC join also
    // requires the neighbor's cell (label) to equal the query's cell
    "q_ann_ivfpq" ->
      """WITH v AS (SELECT vec_id, label AS cell, embedding AS e
                    FROM embeddings),
         sv AS (
           SELECT vec_id, j::INT AS sub,
                  (e[(j*16+1):(j*16+16)])::DOUBLE[] AS sv
           FROM v, range(0, 4) t(j)),
         ids AS (
           SELECT vec_id,
                  (row_number() OVER (ORDER BY vec_id) - 1)::INT AS code
           FROM v ORDER BY vec_id LIMIT 8),
         c0 AS (
           SELECT sv.sub, ids.code, sv.sv AS c
           FROM sv JOIN ids USING (vec_id)),
         d1 AS (
           SELECT sv.vec_id, sv.sub, c0.code,
                  -2 * list_dot_product(sv.sv, (c0.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c0.c::FLOAT[])::DOUBLE[],
                        (c0.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN c0 ON sv.sub = c0.sub),
         a1 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT sub, code, list(s ORDER BY j) AS c FROM (
             SELECT a1.sub, a1.code, j, sum(sv.sv[j]) / count(*) AS s
             FROM sv JOIN a1 ON sv.vec_id = a1.vec_id
                            AND sv.sub = a1.sub,
                  range(1, 17) t(j)
             GROUP BY a1.sub, a1.code, j)
           GROUP BY sub, code),
         d2 AS (
           SELECT sv.vec_id, sv.sub, m1.code,
                  -2 * list_dot_product(sv.sv, (m1.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                        (m1.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN m1 ON sv.sub = m1.sub),
         a2 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d2) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, cell, e AS qe FROM v
               WHERE vec_id < 10),
         lut AS (
           SELECT q.query_id, q.cell, m1.sub, m1.code,
                  round(list_dot_product(
                    (q.qe[(m1.sub*16+1):(m1.sub*16+16)])::DOUBLE[],
                    (m1.c::FLOAT[])::DOUBLE[]) * 1e6)::BIGINT
                    AS pdot_micro,
                  round(list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                    (m1.c::FLOAT[])::DOUBLE[]) * 1e6)::BIGINT
                    AS pn2_micro
           FROM q CROSS JOIN m1),
         qn AS (
           SELECT query_id,
                  sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))
                    AS qnorm
           FROM q),
         scored AS (
           SELECT l.query_id, a2.vec_id AS neighbor_id,
                  sum(l.pdot_micro) AS adot, sum(l.pn2_micro) AS an2
           FROM a2
           JOIN v vc ON a2.vec_id = vc.vec_id
           JOIN lut l ON a2.sub = l.sub AND a2.code = l.code
                     AND vc.cell = l.cell
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, neighbor_id,
                  (adot/1e6) / (qnorm * sqrt(an2/1e6)) AS score,
                  row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY (adot/1e6) / (qnorm * sqrt(an2/1e6)) DESC,
                             neighbor_id) AS rnk
           FROM scored JOIN qn USING (query_id)
           WHERE neighbor_id <> query_id AND an2 > 0)
         SELECT query_id, neighbor_id, rnk::INT AS rnk,
                round(score, 6) AS pq_score
         FROM ranked WHERE rnk <= 5""",

    "q_ann_ivfpq_probe" ->
      """WITH v AS (SELECT vec_id, label AS cell, embedding AS e
                    FROM embeddings),
         sv AS (
           SELECT vec_id, j::INT AS sub,
                  (e[(j*16+1):(j*16+16)])::DOUBLE[] AS sv
           FROM v, range(0, 4) t(j)),
         ids AS (
           SELECT vec_id,
                  (row_number() OVER (ORDER BY vec_id) - 1)::INT AS code
           FROM v ORDER BY vec_id LIMIT 8),
         c0 AS (
           SELECT sv.sub, ids.code, sv.sv AS c
           FROM sv JOIN ids USING (vec_id)),
         d1 AS (
           SELECT sv.vec_id, sv.sub, c0.code,
                  -2 * list_dot_product(sv.sv, (c0.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c0.c::FLOAT[])::DOUBLE[],
                        (c0.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN c0 ON sv.sub = c0.sub),
         a1 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT sub, code, list(s ORDER BY j) AS c FROM (
             SELECT a1.sub, a1.code, j, sum(sv.sv[j]) / count(*) AS s
             FROM sv JOIN a1 ON sv.vec_id = a1.vec_id
                            AND sv.sub = a1.sub,
                  range(1, 17) t(j)
             GROUP BY a1.sub, a1.code, j)
           GROUP BY sub, code),
         d2 AS (
           SELECT sv.vec_id, sv.sub, m1.code,
                  -2 * list_dot_product(sv.sv, (m1.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                        (m1.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN m1 ON sv.sub = m1.sub),
         a2 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d2) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, e AS qe FROM v
               WHERE vec_id < 10),
         cents AS (
           SELECT cell, list(m ORDER BY pos) AS c FROM (
             SELECT v.cell, j AS pos, sum(e[j]::DOUBLE) / count(*) AS m
             FROM v, range(1, 65) t(j)
             GROUP BY v.cell, j)
           GROUP BY cell),
         probes AS (
           SELECT query_id, cell FROM (
             SELECT q.query_id, cents.cell,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY
                      -2 * list_dot_product(q.qe::DOUBLE[],
                             (cents.c::FLOAT[])::DOUBLE[])
                        + list_dot_product((cents.c::FLOAT[])::DOUBLE[],
                            (cents.c::FLOAT[])::DOUBLE[]),
                      cents.cell) AS pr
             FROM q CROSS JOIN cents) WHERE pr <= 3),
         lut AS (
           SELECT q.query_id, p.cell, m1.sub, m1.code,
                  round(list_dot_product(
                    (q.qe[(m1.sub*16+1):(m1.sub*16+16)])::DOUBLE[],
                    (m1.c::FLOAT[])::DOUBLE[]) * 1e6)::BIGINT
                    AS pdot_micro,
                  round(list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                    (m1.c::FLOAT[])::DOUBLE[]) * 1e6)::BIGINT
                    AS pn2_micro
           FROM probes p JOIN q USING (query_id) CROSS JOIN m1),
         qn AS (
           SELECT query_id,
                  sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))
                    AS qnorm
           FROM q),
         scored AS (
           SELECT l.query_id, a2.vec_id AS neighbor_id,
                  sum(l.pdot_micro) AS adot, sum(l.pn2_micro) AS an2
           FROM a2
           JOIN v vc ON a2.vec_id = vc.vec_id
           JOIN lut l ON a2.sub = l.sub AND a2.code = l.code
                     AND vc.cell = l.cell
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, neighbor_id,
                  (adot/1e6) / (qnorm * sqrt(an2/1e6)) AS score,
                  row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY (adot/1e6) / (qnorm * sqrt(an2/1e6)) DESC,
                             neighbor_id) AS rnk
           FROM scored JOIN qn USING (query_id)
           WHERE neighbor_id <> query_id AND an2 > 0)
         SELECT query_id, neighbor_id, rnk::INT AS rnk,
                round(score, 6) AS pq_score
         FROM ranked WHERE rnk <= 5""",

    // Same moment sums as Similarity.momentSums — exact DECIMAL(28,12)
    // per-term rounding and sums, then the identical fixed-order double
    // finish (Σxy − ΣxΣy/n)/n, rounded at 10dp on both engines.
    "q_emb_covariance" ->
      """WITH v AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         p AS (
           SELECT a.j::INT AS i, b.j::INT AS j,
                  sum(CAST(e[a.j + 1] * e[b.j + 1]
                      AS DECIMAL(28,12))) AS sxy
           FROM v, range(0, 64) a(j), range(0, 64) b(j)
           WHERE a.j <= b.j
           GROUP BY 1, 2),
         m AS (
           SELECT a.j::INT AS i,
                  sum(CAST(e[a.j + 1] AS DECIMAL(28,12))) AS sx
           FROM v, range(0, 64) a(j)
           GROUP BY 1),
         n AS (SELECT count(*)::DOUBLE AS n FROM v)
         SELECT p.i, p.j,
                round((sxy::DOUBLE - mi.sx::DOUBLE * mj.sx::DOUBLE / n.n)
                      / n.n, 10) AS cov
         FROM p
         JOIN m mi ON p.i = mi.i
         JOIN m mj ON p.j = mj.i
         CROSS JOIN n""",

    // Verdict twin for the PCA projection (no SQL eigensolver exists):
    // DuckDB computes the checkable side — the row count and the
    // covariance trace via the SAME fixed-order per-element expression
    // the q_emb_covariance oracle hash-matches at 10dp (here summed and
    // rounded at 4dp, far above the ~1e-9 cross-engine residual) — and
    // asserts every invariant boolean literally; the hash matches iff
    // the Spark side's eigensolver + projection satisfied all of them.
    "q_pca_project" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         d AS (
           SELECT t.j::INT AS i,
                  sum(CAST(e[t.j + 1] * e[t.j + 1]
                      AS DECIMAL(28,12))) AS sxx,
                  sum(CAST(e[t.j + 1] AS DECIMAL(28,12))) AS sx
           FROM v, range(0, 64) t(j)
           GROUP BY 1),
         n AS (SELECT count(*)::DOUBLE AS n FROM v),
         tr AS (SELECT round(sum((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE
                                  / n.n) / n.n), 4) AS total_var
                FROM d CROSS JOIN n)
         SELECT v.vec_id, k.j::INT AS component,
                TRUE AS ok_proj, TRUE AS ok_parseval, TRUE AS ok_centered,
                TRUE AS ok_unit, TRUE AS ok_orth, TRUE AS ok_order,
                TRUE AS ok_var, n.n::BIGINT AS n_rows, tr.total_var
         FROM v, range(0, 4) k(j)
         CROSS JOIN n CROSS JOIN tr""",

    // Mirrors Similarity.int8Quantize: per-dim min/max over the float
    // values (cast to double — monotone, so identical), scale =
    // (max−min)/255, code = floor((x−min)/scale + 0.5) − 128. floor of
    // the shared double expression is the tie rule on both engines.
    "q_emb_int8_codes" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         p AS (
           SELECT t.j::INT AS i, min(e[t.j + 1]) AS mn,
                  max(e[t.j + 1]) AS mx
           FROM v, range(0, 64) t(j)
           GROUP BY 1),
         pa AS (SELECT i, mn, (mx - mn) / 255.0 AS sc FROM p),
         c AS (
           SELECT vec_id, pa.i,
                  CASE WHEN sc > 0
                       THEN floor((e[pa.i + 1] - mn) / sc + 0.5) - 128
                       ELSE 0 END AS code
           FROM v CROSS JOIN pa)
         SELECT vec_id,
                string_agg(code::INT::VARCHAR, '|' ORDER BY i) AS codes
         FROM c GROUP BY vec_id""",

    // Mirrors Similarity.int8ReconError. The per-vector error sum uses
    // list_dot_product(el, el) — the same sequential ascending-index
    // double accumulation as Spark's aggregate() over the array — and
    // the corpus mean goes through an exact DECIMAL(28,12) sum.
    "q_emb_int8_stats" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         p AS (
           SELECT t.j::INT AS i, min(e[t.j + 1]) AS mn,
                  max(e[t.j + 1]) AS mx
           FROM v, range(0, 64) t(j)
           GROUP BY 1),
         pa AS (SELECT i, mn, (mx - mn) / 255.0 AS sc FROM p),
         errv AS (
           SELECT vec_id,
                  list(e[pa.i + 1] -
                       (mn + (CASE WHEN sc > 0
                              THEN floor((e[pa.i + 1] - mn) / sc + 0.5)
                              ELSE 0 END) * sc)
                       ORDER BY pa.i) AS el
           FROM v CROSS JOIN pa
           GROUP BY vec_id),
         m AS (SELECT vec_id, list_dot_product(el, el) / 64 AS mse
               FROM errv)
         SELECT count(*)::BIGINT AS n_vectors,
                round(sum(CAST(mse AS DECIMAL(28,12)))::DOUBLE
                      / count(*), 10) AS mean_mse,
                round(max(mse), 10) AS max_mse
         FROM m""",

    // Mirrors Similarity.int8TopK: the q_emb_int8_codes calibration
    // CTEs, reconstruction x̂ = mn + floor((x−mn)/sc + 0.5)·sc as an
    // ascending-index DOUBLE list, then the annSql scoring shape with
    // the corpus side reconstructed. list_dot_product on DOUBLE[] is
    // the same sequential accumulation as the Spark HOF dot.
    "q_ann_int8" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         p AS (
           SELECT t.j::INT AS i, min(e[t.j + 1]) AS mn,
                  max(e[t.j + 1]) AS mx
           FROM v, range(0, 64) t(j)
           GROUP BY 1),
         pa AS (SELECT i, mn, (mx - mn) / 255.0 AS sc FROM p),
         r AS (
           SELECT vec_id,
                  list(mn + (CASE WHEN sc > 0
                             THEN floor((e[pa.i + 1] - mn) / sc + 0.5)
                             ELSE 0 END) * sc ORDER BY pa.i) AS xhat
           FROM v CROSS JOIN pa
           GROUP BY vec_id),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_dot_product(q.e, c.xhat) /
                    (sqrt(list_dot_product(q.e, q.e)) *
                     sqrt(list_dot_product(c.xhat, c.xhat))) AS cos
           FROM v q JOIN r c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos
         FROM (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rnk
               FROM scored)
         WHERE rnk <= 5""",

    // Mirrors Similarity.annRecall over (exact bruteforce, int8) top-5:
    // exact side = annSql's scoring, approx side = the q_ann_int8
    // reconstruction, recall = hits / k per query
    "q_ann_recall" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         p AS (
           SELECT t.j::INT AS i, min(e[t.j + 1]) AS mn,
                  max(e[t.j + 1]) AS mx
           FROM v, range(0, 64) t(j)
           GROUP BY 1),
         pa AS (SELECT i, mn, (mx - mn) / 255.0 AS sc FROM p),
         r AS (
           SELECT vec_id,
                  list(mn + (CASE WHEN sc > 0
                             THEN floor((e[pa.i + 1] - mn) / sc + 0.5)
                             ELSE 0 END) * sc ORDER BY pa.i) AS xhat
           FROM v CROSS JOIN pa
           GROUP BY vec_id),
         exact AS (
           SELECT query_id, neighbor_id
           FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY list_dot_product(q.e, c.e) /
                            (sqrt(list_dot_product(q.e, q.e)) *
                             sqrt(list_dot_product(c.e, c.e))) DESC,
                          c.vec_id ASC) AS rnk
                 FROM v q JOIN v c ON c.vec_id <> q.vec_id
                 WHERE q.vec_id < 10)
           WHERE rnk <= 5),
         approx AS (
           SELECT query_id, neighbor_id
           FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY list_dot_product(q.e, c.xhat) /
                            (sqrt(list_dot_product(q.e, q.e)) *
                             sqrt(list_dot_product(c.xhat, c.xhat))) DESC,
                          c.vec_id ASC) AS rnk
                 FROM v q JOIN r c ON c.vec_id <> q.vec_id
                 WHERE q.vec_id < 10)
           WHERE rnk <= 5)
         SELECT e.query_id, count(*)::BIGINT AS n_exact,
                sum(CASE WHEN a.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_hit,
                round(sum(CASE WHEN a.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
                  AS recall
         FROM exact e
         LEFT JOIN approx a
           ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         GROUP BY e.query_id""",

    // Mirrors Similarity.rpProject: the ±1 sign matrix regenerated from
    // md5("i_j") first-nibble parity, dot via ascending-index DOUBLE
    // list, scaled by the same IEEE sqrt(8)
    "q_rp_project" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         m AS (
           SELECT t.j::INT AS component,
                  list_transform(range(0, 64), i ->
                    ((('0x' || substr(md5(i::VARCHAR || '_' ||
                        t.j::VARCHAR), 1, 1))::INT % 2) * 2 - 1)::DOUBLE)
                    AS axis
           FROM range(0, 8) t(j))
         SELECT vec_id, component,
                round(list_dot_product(e, axis) / sqrt(8.0), 6) AS coord
         FROM v CROSS JOIN m""",

    // Mirrors Similarity.rpRerankTopK: q_rp_project's matrix + per-vec
    // projection list (ordered by component — same ascending fold),
    // coarse rank ≤ 20 on projected cosine, exact rerank ≤ 5
    "q_ann_rp_rerank" ->
      """WITH v AS (SELECT vec_id,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         m AS (
           SELECT t.j::INT AS component,
                  list_transform(range(0, 64), i ->
                    ((('0x' || substr(md5(i::VARCHAR || '_' ||
                        t.j::VARCHAR), 1, 1))::INT % 2) * 2 - 1)::DOUBLE)
                    AS axis
           FROM range(0, 8) t(j)),
         pv AS (
           SELECT vec_id,
                  list(list_dot_product(e, axis) / sqrt(8.0)
                       ORDER BY component) AS p
           FROM v CROSS JOIN m
           GROUP BY vec_id),
         coarse AS (
           SELECT query_id, neighbor_id
           FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY list_dot_product(qp.p, cp.p) /
                            (sqrt(list_dot_product(qp.p, qp.p)) *
                             sqrt(list_dot_product(cp.p, cp.p))) DESC,
                          c.vec_id ASC) AS crnk
                 FROM v q
                 JOIN v c ON c.vec_id <> q.vec_id
                 JOIN pv qp ON qp.vec_id = q.vec_id
                 JOIN pv cp ON cp.vec_id = c.vec_id
                 WHERE q.vec_id < 10
                   AND list_dot_product(qp.p, qp.p) > 0
                   AND list_dot_product(cp.p, cp.p) > 0)
           WHERE crnk <= 20)
         SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos
         FROM (SELECT co.query_id, co.neighbor_id,
                      list_dot_product(q.e, c.e) /
                        (sqrt(list_dot_product(q.e, q.e)) *
                         sqrt(list_dot_product(c.e, c.e))) AS cos,
                      row_number() OVER (PARTITION BY co.query_id
                        ORDER BY list_dot_product(q.e, c.e) /
                          (sqrt(list_dot_product(q.e, q.e)) *
                           sqrt(list_dot_product(c.e, c.e))) DESC,
                        co.neighbor_id ASC) AS rnk
               FROM coarse co
               JOIN v q ON q.vec_id = co.query_id
               JOIN v c ON c.vec_id = co.neighbor_id)
         WHERE rnk <= 5""",

    "q_ann_pq" ->
      """WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         sv AS (
           SELECT vec_id, j::INT AS sub,
                  (e[(j*16+1):(j*16+16)])::DOUBLE[] AS sv
           FROM v, range(0, 4) t(j)),
         ids AS (
           SELECT vec_id,
                  (row_number() OVER (ORDER BY vec_id) - 1)::INT AS code
           FROM v ORDER BY vec_id LIMIT 8),
         c0 AS (
           SELECT sv.sub, ids.code, sv.sv AS c
           FROM sv JOIN ids USING (vec_id)),
         d1 AS (
           SELECT sv.vec_id, sv.sub, c0.code,
                  -2 * list_dot_product(sv.sv, (c0.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((c0.c::FLOAT[])::DOUBLE[],
                        (c0.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN c0 ON sv.sub = c0.sub),
         a1 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT sub, code, list(s ORDER BY j) AS c FROM (
             SELECT a1.sub, a1.code, j, sum(sv.sv[j]) / count(*) AS s
             FROM sv JOIN a1 ON sv.vec_id = a1.vec_id
                            AND sv.sub = a1.sub,
                  range(1, 17) t(j)
             GROUP BY a1.sub, a1.code, j)
           GROUP BY sub, code),
         d2 AS (
           SELECT sv.vec_id, sv.sub, m1.code,
                  -2 * list_dot_product(sv.sv, (m1.c::FLOAT[])::DOUBLE[])
                    + list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                        (m1.c::FLOAT[])::DOUBLE[]) AS d
           FROM sv JOIN m1 ON sv.sub = m1.sub),
         a2 AS (
           SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d, code) AS rn
             FROM d2) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, e AS qe FROM v
               WHERE vec_id < 10),
         lut AS (
           SELECT q.query_id, m1.sub, m1.code,
                  round(list_dot_product(
                    (q.qe[(m1.sub*16+1):(m1.sub*16+16)])::DOUBLE[],
                    (m1.c::FLOAT[])::DOUBLE[]) * 1e6)::BIGINT
                    AS pdot_micro,
                  round(list_dot_product((m1.c::FLOAT[])::DOUBLE[],
                    (m1.c::FLOAT[])::DOUBLE[]) * 1e6)::BIGINT
                    AS pn2_micro
           FROM q CROSS JOIN m1),
         qn AS (
           SELECT query_id,
                  sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))
                    AS qnorm
           FROM q),
         scored AS (
           SELECT l.query_id, a2.vec_id AS neighbor_id,
                  sum(l.pdot_micro) AS adot, sum(l.pn2_micro) AS an2
           FROM a2 JOIN lut l ON a2.sub = l.sub AND a2.code = l.code
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, neighbor_id,
                  (adot/1e6) / (qnorm * sqrt(an2/1e6)) AS score,
                  row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY (adot/1e6) / (qnorm * sqrt(an2/1e6)) DESC,
                             neighbor_id) AS rnk
           FROM scored JOIN qn USING (query_id)
           WHERE neighbor_id <> query_id AND an2 > 0)
         SELECT query_id, neighbor_id, rnk::INT AS rnk,
                round(score, 6) AS pq_score
         FROM ranked WHERE rnk <= 5""",

    // same float→double→decimal ladder and division order as the Spark
    // side, so means match bit-for-bit before the 6dp round
    "q_emb_drift" ->
      """WITH v AS (SELECT (vec_id % 2 = 0) AS snap_a,
                           list_transform(embedding, x -> x::DOUBLE) AS e
                    FROM embeddings),
         g AS (SELECT a.j::INT AS dim, snap_a,
                      sum(CAST(e[a.j + 1] AS DECIMAL(28,12))) AS sx,
                      count(*) AS n
               FROM v, range(0, 64) a(j)
               GROUP BY 1, 2)
         SELECT ga.dim,
                round(ga.sx::DOUBLE / ga.n, 6) AS mean_a,
                round(gb.sx::DOUBLE / gb.n, 6) AS mean_b,
                round(ga.sx::DOUBLE / ga.n - gb.sx::DOUBLE / gb.n, 6)
                  AS delta
         FROM g ga JOIN g gb
           ON ga.dim = gb.dim AND ga.snap_a AND NOT gb.snap_a
         ORDER BY ga.dim""",
  )
}
