package graft

import org.apache.spark.sql.functions._

import graft.ArtifactStore.scratch
import graft.ops.relational

/** Physical-plan shape guards for the scale-critical properties: these
  * are the plans we WANT at 100 TB, pinned so a refactor can't silently
  * regress them (SURVEY.md §4; "optimize for scale" checklist).
  *
  * Correctness specs elsewhere prove values; this suite proves the engine
  * reads less, shuffles less, and combines early.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("filter is pushed into the parquet scan") {
    val plan = Tables.t(spark, sf, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"),
      plan.take(2000))
  }

  test("projection prunes the scan to the selected columns") {
    val plan = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    val readSchema = plan.split("ReadSchema: ")(1)
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("dict-lookup join broadcasts the dimension side") {
    val fact = Tables.t(spark, sf, "customer")
    val dim = Tables.t(spark, sf, "nation")
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
    val plan = relational.lookupJoin(fact, dim, "c_nationkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("Q5-shaped star join broadcasts the small dims, no nested loop") {
    val df = SparkEntry.queries("q_sql_q5")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small dims (nation/region/supplier) should broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("partitioned-lake join prunes partitions dynamically (DPP)") {
    // the S8 layout's claimed benefit: a join against a filtered dim
    // must push a runtime IN-filter into the fact scan's partition
    // filters, so only the matching lake directories are read — at
    // 100 TB this is the difference between scanning one partition and
    // scanning the lake
    import spark.implicits._
    val tmp = scratch(spark, "graft_dpp")
    Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    // the dim must be a real (file) relation: a LocalRelation's filter is
    // constant-folded away before the DPP rule looks for a selective
    // predicate on the build side
    val dimPath = scratch(spark, "graft_dppd")
    Seq(("R", "returned"), ("A", "accepted"), ("N", "none"))
      .toDF("l_returnflag", "meaning")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = fact
      .join(dim.filter(col("meaning") === "returned"), Seq("l_returnflag"))
      .groupBy("meaning")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"partitioned scan should carry a dynamic pruning filter:\n" +
        plan.take(3000))
    assert(joined.collect().nonEmpty)
  }

  test("selective dim filter injects a runtime bloom filter into the fact side") {
    // the row-level twin of DPP: when the fact side is too big to
    // broadcast-join and the dim carries a selective filter, the
    // optimizer should build a bloom filter from the dim keys and push
    // might_contain into the fact scan side, cutting shuffled fact rows
    // before the join. At 100 TB this is the difference between
    // shuffling the lake and shuffling the matching slice. Thresholds
    // are sized for production (10 GB application side), so pin them
    // down to testdata scale for the shape assertion.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      val fact = Tables.t(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity")
      val dim = Tables.t(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = fact.join(dim,
        fact("l_orderkey") === dim("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"fact side should carry a bloom-filter probe:\n${plan.take(3000)}")
      assert(joined.count() > 0)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("lossless pair generators never plan a cross product") {
    // the round-3 guarantee: banding / prefix filtering / OR'd LSH
    // tables replace heuristic blocking WITHOUT introducing a
    // CartesianProduct or nested-loop join anywhere — candidate
    // generation is always an equi-join on a derived key
    Seq("q_dedup_simhash_pairs", "q_dedup_simhash64_pairs",
      "q_dedup_ngram_jaccard", "q_dedup_embedding",
      "q_dedup_incremental").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product:\n${plan.take(2000)}")
    }
  }

  test("repeated-dim SQL joins (Q7/Q8) broadcast dims, no nested loop") {
    // nation enters twice under different roles; both instances must
    // still resolve to broadcast hash joins — a planning regression here
    // (e.g. a missed alias) degenerates to a nested-loop over the fact
    Seq("q_sql_q7", "q_sql_q8").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product:\n${plan.take(2000)}")
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    }
  }

  test("correlated subqueries (Q17/Q21) decorrelate to joins") {
    // a correlated scalar subquery / EXISTS that did NOT decorrelate
    // would surface as a nested-loop re-execution per outer row — the
    // plan must instead carry aggregates + (semi/anti) hash joins
    Seq("q_sql_q17", "q_sql_q21").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q did not decorrelate:\n${plan.take(2000)}")
    }
  }

  test("correlated min / nested semi (Q2/Q9/Q11/Q16/Q20) decorrelate") {
    // Q2's correlated MIN over a 4-way join, Q20's IN containing a
    // correlated scalar aggregate, Q11's scalar-subquery threshold,
    // Q16's NOT IN anti subquery: each must rewrite to aggregate +
    // (semi/anti) hash joins — nested-loop re-execution per outer row
    // is the difference between a 100 TB plan and no plan. (Q11 joins
    // its ONE-ROW totals aggregate and Q16's null-aware NOT IN builds
    // against the tiny complaints list — both legitimately plan a
    // BroadcastNestedLoopJoin whose build side is O(1) rows, so they
    // only forbid CartesianProduct.)
    Seq("q_sql_q2", "q_sql_q9", "q_sql_q20").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q did not decorrelate:\n${plan.take(2000)}")
    }
    Seq("q_sql_q11", "q_sql_q16").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q plans a cross product:\n${plan.take(2000)}")
    }
  }

  test("bm25TopK: bounded top-k, broadcast stats, no global sort") {
    val df = SparkEntry.queries("q_bm25_topk")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"final top-k must not global-sort:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("domainCap plans as two-phase WindowGroupLimit") {
    // the per-domain cap must shuffle ≤cap rows per (task, domain), not
    // whole domains — same partial/final shape as the rank filter
    val df = SparkEntry.queries("q_domain_cap")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n${plan.take(2000)}")
  }

  test("rank-filter pattern plans as two-phase WindowGroupLimit") {
    // rn <= k over a rank-only window must NOT sort whole partitions:
    // Spark 4 plans a partial per-task top-k BEFORE the exchange and a
    // final one after — the shuffle carries k rows per (task, group),
    // not |group|. (q_window_rank deliberately does NOT get this: its
    // lag/lead in the same window need full partitions.)
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n${plan.take(2000)}")
  }

  test("AQE splits a skewed join partition at runtime") {
    // one key holds ~90% of the fact side; with the skew thresholds
    // scaled to test-sized data, AQE must mark the sort-merge join
    // skew-handled (isSkew=true reads) instead of leaving one straggler
    // task — the runtime half of the salting story (relational.saltedJoin
    // is the explicit half, for when the join is hash-partitioned
    // upstream)
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sess.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    sess.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    sess.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "8KB")
    import sess.implicits._
    val fact = sess.range(200000).select(
      when(col("id") % 10 < 9, 0L).otherwise(col("id") % 97).as("k"),
      concat(lit("payload_payload_payload_"), col("id")).as("p"))
    val dim = sess.range(97).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("d"))
    val joined = fact.join(dim, "k")
    // AQE's final plan exists only after THIS dataframe executes (count()
    // would plan/execute a different query)
    assert(joined.collect().length === 200000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") &&
      plan.contains("AQEShuffleRead skewed"),
      s"skewed SMJ not split by AQE:\n${plan.take(3000)}")
  }

  test("AQE coalesces the over-provisioned shuffle on small data") {
    val df = Tables.t(spark, sf, "orders")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    df.collect() // AQE final plan exists only after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead coalesced") ||
      plan.contains("coalesced"),
      s"32 shuffle partitions for 5 groups should coalesce:\n${plan.take(2500)}")
  }

  test("snapshotDiff plans one full-outer join, never a cross product") {
    val plan = SparkEntry.queries("q_snapshot_diff")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"),
      s"snapshot diff must be a single full-outer join:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // exactly one join: the audit is one pass over the two versions
    assert(plan.split("Join").length - 1 <= 2, plan.take(2000))
  }

  test("incremental near-dup probe keeps the corpus index un-re-paired") {
    // the daily-ingest shape: candidates come from a new×corpus band
    // equi-join (never corpus×corpus), and the small new-batch side is
    // the broadcast/build side of the verify joins
    val plan = SparkEntry.queries("q_dedup_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"),
      s"new-batch side should broadcast into the probe:\n${plan.take(2000)}")
  }

  test("approx profile aggregates without an Expand (1x scan volume)") {
    // the 100 TB profile path: approx_count_distinct is a plain partial
    // aggregate, so the multi-stat agg reads the scan once — unlike the
    // exact multi-distinct (q_profile), which Expands input rows 4x
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    // production shape: unpivoted (col_name, v), one sketch per group —
    // partial agg in the scan stage, no Expand anywhere
    val approxPlan = Tables.t(spark, sf, "lineitem")
      .select(expr("stack(3, " +
        cols.map(c => s"'$c', $c").mkString(", ") + ") as (col_name, v)"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_estimate(hll_sketch_agg(xxhash64(col("v"))))
          .as("nd_approx"))
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"), approxPlan.take(2000))
    assert(approxPlan.contains("partial_hllsketchagg") ||
      approxPlan.contains("HashAggregate"), approxPlan.take(2000))
    // and the exact formulation really does Expand — the contrast that
    // makes the approx twin the scale path
    val exactExprs = cols.map(c => countDistinct(col(c)).as(s"nd_$c"))
    val exactPlan = Tables.t(spark, sf, "lineitem")
      .agg(exactExprs.head, exactExprs.tail: _*)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), exactPlan.take(2000))
  }

  test("dsir scoring broadcasts the λ table, keeps per-doc agg partial") {
    val plan = SparkEntry.queries("q_dsir_score")(spark, sf)
      .queryExecution.executedPlan.toString
    // the B-row log-ratio side must never shuffle the doc histogram
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"token-bucket aggs must combine map-side:\n${plan.take(3000)}")
  }

  test("bloom decontamination probe is scan-local — no join in the probe") {
    val docs = Tables.t(spark, sf, "documents")
    val probe = graft.dedup.Dedup.bloomContaminated(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 5)
    val plan = probe.queryExecution.executedPlan.toString
    // the sketch ships inside the expression; contamination() would show
    // a BroadcastHashJoin here
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"bloom probe must not join:\n${plan.take(3000)}")
    assert(plan.contains("might_contain"), plan.take(3000))
  }

  test("containment / tfidf pair generators never plan a cross product") {
    // same guarantee as the round-3 pair generators: the asymmetric
    // containment join (A-prefix × B-inverted-index) and the tf-idf
    // inverted-index pair join are equi-joins on derived keys end to end
    Seq("q_containment_pairs", "q_tfidf_pairs").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product:\n${plan.take(2000)}")
    }
  }

  test("moment sums combine map-side; covariance finish joins broadcast") {
    // the PCA/covariance contract: the only corpus-sized work is one
    // scan + partial-agg (the d²/2-element expansion combines map-side,
    // so the exchange carries ~2k rows per partition)…
    val emb = Tables.t(spark, sf, "embeddings")
    val sums = graft.similarity.Similarity
      .momentSums(emb, "embedding", dim = 64)
      .queryExecution.executedPlan.toString
    assert(sums.contains("partial_sum"),
      s"moment sums must combine map-side:\n${sums.take(3000)}")
    // …and the finish is DRIVER arithmetic over the collected
    // d²-bounded sums (the Jacobi-legality argument): the query plan is
    // just the local result — no second distributed pass, no join
    val plan = SparkEntry.queries("q_emb_covariance")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("int8 encode never shuffles the corpus (scan-local vs broadcast params)") {
    // calibration is a d-row partial agg; the encode side's only
    // non-scan work is the single-row param broadcast — a sort-merge
    // join anywhere means the corpus got shuffled for a 64-element map
    val plan = SparkEntry.queries("q_emb_int8_codes")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      s"calibration must combine map-side:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("nearest-centroid classify never shuffles the corpus") {
    // the fit is a |labels|·d-row map-side-combined agg; classification
    // is a fold over ONE broadcast row of centroids — a sort-merge join
    // or cartesian anywhere means the corpus got shuffled to compare
    // against 10 centroids
    val plan = SparkEntry.queries("q_label_centroid_classify")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"),
      s"centroid fit must combine map-side:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("LOO kNN eval plans as a broadcast fold — no window shuffle") {
    // the candidate set rides in ONE broadcast row; per-query top-k is
    // a scan-local array_sort — a Window or sort-merge join anywhere
    // means the n² pair stream got shuffled
    val plan = SparkEntry.queries("q_knn_classify")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
      plan.take(3000))
  }

  test("cluster purity shuffles only (cell,label) pair counts") {
    // after the id-keyed join of assignment to truth, both aggregations
    // must combine map-side: the exchanges carry |cells|·|labels| rows
    // per partition, not the corpus
    val plan = SparkEntry.queries("q_cluster_purity")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"pair counting must combine map-side:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("association rules: pair counts combine map-side, no cross product") {
    val plan = SparkEntry.queries("q_assoc_rules")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"pair supports must combine map-side:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("pagerank iterations reuse a staged edge list, no cross product") {
    val plan = SparkEntry.queries("q_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the final iteration must read the checkpointed previous ranks, not
    // recompute the whole lineage (Scan ExistingRDD = localCheckpoint)
    assert(plan.contains("ExistingRDD"), plan.take(3000))
  }

  test("naive bayes scoring broadcasts the model grid, no cross product") {
    val plan = SparkEntry.queries("q_nb_langid")(spark, sf)
      .queryExecution.executedPlan.toString
    // the B×C weight grid and the C-row prior must both ship broadcast;
    // the doc histogram side never re-shuffles for the model join
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"token aggs must combine map-side:\n${plan.take(3000)}")
  }

  test("tokenBudgetMix pre-cuts with a two-phase group limit") {
    val plan = SparkEntry.queries("q_token_budget_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    // the rank ≤ budget cut must run per-partition BEFORE the exchange
    // (WindowGroupLimit twice: partial then final), so a 100 TB source
    // never sorts more than `budget` rows globally
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.indexOf("WindowGroupLimit") !=
      plan.lastIndexOf("WindowGroupLimit"),
      s"expected partial+final WindowGroupLimit:\n${plan.take(3000)}")
  }

  test("source KL: only the count agg sees token volume, no cartesian") {
    val plan = SparkEntry.queries("q_source_kl")(spark, sf)
      .queryExecution.executedPlan.toString
    // the (source, bucket) count must combine map-side; the marginals
    // and grid work on the checkpointed bounded table (ExistingRDD);
    // the tiny broadcast crosses must never become a real cartesian
    // of anything token-sized
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"token count must combine map-side:\n${plan.take(3000)}")
    assert(plan.contains("ExistingRDD"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("boilerplate strip: no cross product, df count combines map-side") {
    val plan = SparkEntry.queries("q_boilerplate_strip")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the distinct (doc, hash) collapse must partial-aggregate before
    // its exchange — the df count shuffles keys, not chunk occurrences
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("expectations suite is ONE scan — no joins, no second pass") {
    val plan = SparkEntry.queries("q_expectations")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = plan.sliding("Scan parquet".length)
      .count(_ == "Scan parquet")
    assert(scans === 1, s"expected a single table scan, got $scans:\n" +
      plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("phrase search: postings cut to phrase terms before any exchange") {
    val df = SparkEntry.queries("q_phrase_search")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the explode+term-cut ran inside the postings checkpoint (the plan
    // reads ExistingRDD); each intersection side re-filters to its term
    // and the final per-doc count combines map-side
    assert(plan.contains("ExistingRDD"), plan.take(3000))
    assert(plan.contains("Filter ((tok#"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("BPE rounds run on the vocab table, corpus scanned once") {
    val df = graft.text.Bpe.bpeTrain(
      Tables.t(spark, sf, "documents"), "doc_id", "text", rounds = 2)
    // bpeTrain materializes per round; the returned merges frame is a
    // LocalRelation built from ≤ rounds driver rows — nothing
    // corpus-sized survives into the result plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("LocalRelation"),
      plan.take(2000))
  }

  test("span scrub: no cross product, bounded fan-out joins only") {
    val plan = SparkEntry.queries("q_span_scrub")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("source overlap: set-based intersections, no shingle self-join") {
    val plan = SparkEntry.queries("q_source_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    // the per-shingle source set replaces a shingle-keyed self-join:
    // collect_set appears, and no join keys on the shingle hash
    assert(plan.contains("collect_set"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin [h#"),
      s"shingle-keyed self-join crept back:\n${plan.take(3000)}")
  }

  test("aggregation combines map-side before the exchange") {
    val plan = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("q"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"),
      s"no map-side partial aggregation in:\n${plan.take(2000)}")
    // partial agg must appear upstream (later in the printed tree) of the
    // exchange so only |groups| rows per partition are shuffled
    assert(plan.indexOf("partial_sum") > plan.indexOf("Exchange"),
      plan.take(2000))
  }

  test("kAnonymity: partial-agg counts + hash join, never a window") {
    // the window form (count over partition by quasi) buffers each
    // group in one task — a degenerate quasi column becomes a single
    // straggler at scale. Pin the skew-safe shape: map-side-combined
    // groupBy + null-safe join-back, which streams and AQE can split.
    val plan = relational.kAnonymity(
      Tables.t(spark, sf, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment")),
      Seq("c_nationkey", "c_mktsegment"), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"suppression gate must not buffer groups in a window:\n${plan.take(2000)}")
    assert(plan.contains("partial_count"),
      s"group counts should combine map-side:\n${plan.take(2000)}")
    assert(plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("scriptCounts stays scan-local (no exchange)") {
    val plan = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        graft.text.Text.scriptCounts(col("text")).as("sc"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"script counting must not shuffle:\n${plan.take(2000)}")
  }

  test("label propagation round shape: no cartesian product") {
    val e = Tables.t(spark, sf, "orders").limit(200)
      .select(col("o_custkey").as("a"),
        (col("o_orderkey") % 97 + 10000000L).as("b"))
    val plan = graft.graph.Graph.labelPropagation(e, "a", "b", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }
}
