package graft

import graft.Staging._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.graph.{Graph, Walks}
import graft.multimodal.Multimodal
import graft.ops.{analytics, asof, baskets, expectations, exprs, qsketch, rangejoin, sketches, sweepline, timeseries, windows}
import graft.similarity.{LabelEval, Similarity}
import graft.sources.{HtmlTables, Layout, Parquet, StagedSources}
import graft.streaming.Streams
import graft.text.{Bpe, Importance, Packing, SuffixArray, Text}

/** relational, temporal, sketch, profiling and drift operators — the Analytics slice of the
  * extension surface, split out of [[ExtensionQueries]] (round 12)
  * with zero behavior change: entries are verbatim; shared artifact
  * helpers and oracle CTE fragments stay package-private in
  * [[ExtensionQueries]]. Composed back in [[ExtensionQueries.queries]]
  * / [[ExtensionQueries.oracleSql]]. */
private[graft] object AnalyticsQueries {
  import Tables.t
  import ExtensionQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- as-of join --------------------------------------------------------
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"),
          (col("user_id") % 25).as("uk"))
      // dedupe right side per (key, ts): keep max orderkey (ASOF ties)
      val ord = t(s, d, "orders")
        .select((col("o_custkey") % 25).as("uk"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
        .groupBy("uk", "o_orderdate")
        .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("m"))
        .select(col("uk"), col("o_orderdate"),
          col("m.o_orderkey").as("o_orderkey"),
          col("m.o_totalprice").as("o_totalprice"))
      asof.asOfJoin(ev, ord,
        key = "uk", leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "o_orderkey", "o_totalprice")
    }),

    // ---- range join (binned equi rewrite of the inequality join) ----------
    "q_range_join" -> ((s, d) => {
      val points = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          (col("l_partkey") % 200).as("shard"))
      val intervals = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("o_end"),
          (col("o_orderkey") % 200).as("shard"))
      // bin width tunes candidate fan-out: candidates ∝ (bin + interval
      // length), interval replication ∝ (length/bin + 1). 5d bins cut
      // candidate pairs ~40% vs 30d for +20% interval rows (measured
      // 4.5 s → 3.6 s warm at sf0.1); correctness is bin-independent
      // (exact containment filter after the equi join — RangeJoinSpec)
      rangejoin.binnedRangeJoin(points, "l_shipdate",
        intervals, "o_orderdate", "o_end",
        binSeconds = 5L * 24 * 3600, extraKeys = Seq("shard"))
        .select("l_orderkey", "l_linenumber", "o_orderkey")
    }),

    // ---- interval × interval overlap join ---------------------------------
    // two-sided binned equi rewrite: pairs of 30-day order windows (same
    // customer shard) that overlap in time. The start-bin ownership
    // predicate dedups multi-bin pairs without a second shuffle. Unlike
    // the point-interval join above, candidates are minimized at bin ≈
    // interval length (each side lands on ≤ 2 bins): 30d bins measured
    // 1.34 s warm vs 1.75 s at 10d bins (sf0.1); correctness is
    // bin-independent (RangeJoinSpec sweeps 1h/1d/30d widths).
    "q_interval_overlap" -> ((s, d) => {
      def side(par: Int, tag: String) =
        t(s, d, "orders").filter(col("o_orderkey") % 2 === par)
          .select(col("o_orderkey").as(s"${tag}_key"),
            col("o_orderdate").as(s"${tag}_start"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS"))
              .as(s"${tag}_end"),
            (col("o_custkey") % 200).as("shard"))
      rangejoin.intervalOverlapJoin(
        side(0, "a"), "a_start", "a_end",
        side(1, "b"), "b_start", "b_end",
        binSeconds = 30L * 24 * 3600, extraKeys = Seq("shard"))
        .select("a_key", "b_key")
    }),

    // ---- Allen interval-algebra classification ----------------------------
    // every CONTACT pair of order windows (10/20/30-day lengths so all
    // 11 relations occur at date granularity) classified into Allen's
    // relation — inclusive-end binning catches boundary-only `meets`
    // pairs; output is the relation census
    "q_allen_relations" -> ((s, d) => {
      def side(par: Int, tag: String) =
        t(s, d, "orders").filter(col("o_orderkey") % 2 === par)
          .select(col("o_orderkey").as(s"${tag}_key"),
            col("o_orderdate").as(s"${tag}_start"),
            date_add(col("o_orderdate"),
              ((col("o_orderkey") % 3 + 1) * 10).cast("int"))
              .as(s"${tag}_end"),
            (col("o_custkey") % 200).as("shard"))
      rangejoin.allenRelations(
        side(0, "a"), "a_start", "a_end",
        side(1, "b"), "b_start", "b_end",
        binSeconds = 30L * 24 * 3600, extraKeys = Seq("shard"))
        .groupBy("relation")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("relation")
    }),

    // ---- time-weighted average (TWAP) -------------------------------------
    // per-priority mean order price weighted by how long each order
    // window stays open (1–60 days keyed off the orderkey) — integer
    // cents × exact epoch seconds, one hash aggregate
    "q_time_weighted_avg" -> ((s, d) =>
      timeseries.timeWeightedAvg(
        t(s, d, "orders").select(col("o_orderpriority").as("pri"),
          col("o_orderdate").as("w_start"),
          date_add(col("o_orderdate"),
            (col("o_orderkey") % 60 + 1).cast("int")).as("w_end"),
          col("o_totalprice").as("price")),
        "pri", "w_start", "w_end", "price")),

    // ---- OHLC candle resample ---------------------------------------------
    // daily bars per event type over the event stream: one hash agg,
    // open/close via min_by/max_by on (ts, event_id) — no sort window.
    // Integer-cent tick values in, so every output cell is BIGINT
    // (DOUBLE/DECIMAL bars survive a byte compare but not a
    // pandas-path one: DuckDB DECIMAL lands as float64, parquet
    // DECIMAL as Decimal objects)
    "q_ohlc_bars" -> ((s, d) =>
      timeseries.ohlcBars(
        Tables.events(s, d).withColumn("value_c",
          (col("value").cast("decimal(18,2)") * 100).cast("long")),
        "event_type", "ts", "value_c", "event_id", barSeconds = 86400L)
        .select(col("event_type"), col("bar_start"),
          col("open").as("open_c"), col("high").as("high_c"),
          col("low").as("low_c"), col("close").as("close_c"),
          col("n_ticks"), col("volume").cast("long").as("volume_c"))
        .orderBy("event_type", "bar_start")),

    // ---- t-closeness release gate ------------------------------------------
    // the privacy trio's third gate: per (nation, balance-bucket) group,
    // variational distance between the group's market-segment mix and
    // the table-wide one, micro-quantized (overflow-safe at any N);
    // releasable iff t <= 0.30
    "q_t_closeness" -> ((s, d) =>
      graft.ops.relational.tCloseness(
        t(s, d, "customer").select(col("c_nationkey"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_bucket"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment",
        tMicro = 300000L)
        .orderBy("c_nationkey", "bal_bucket")),

    // ---- out-of-fold target encoding ---------------------------------------
    // leakage-safe categorical feature: fold-k rows get their
    // category's label mean computed WITHOUT fold k; deterministic
    // md5 folds, |categories|x5 output
    "q_target_encoding" -> ((s, d) =>
      analytics.targetEncoding(t(s, d, "orders"), "o_orderpriority",
          "o_orderkey",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
          nFolds = 5)
        .orderBy("o_orderpriority", "fold")),

    // ---- randomized response (Warner local-DP collection) -----------------
    // the sensitive bit (order value > $250) is collected under f=0.25
    // randomized response (per-row ε≈1.9) and the per-cohort count is
    // debiased exactly; keyed-hash draws make the privatized report
    // itself deterministic, so the oracle checks mechanism + estimator
    "q_randomized_response" -> ((s, d) =>
      analytics.randomizedResponse(
        Tables.events(s, d).withColumn("cohort", col("user_id") % 8),
        "cohort", "event_id",
        (col("value").cast("decimal(18,2)") * 100).cast("long") > 25000L,
        fMicro = 250000L)
        .orderBy("cohort")),

    // ---- Markov next-event transition matrix ------------------------------
    // P(next event type | current) per user journey, integer micros
    "q_markov_transitions" -> ((s, d) =>
      timeseries.transitionMatrix(Tables.events(s, d), "user_id", "ts",
          "event_type", "event_id")
        .orderBy("from_type", "to_type")),

    // ---- CUSUM changepoint localization ------------------------------------
    // per-user drift statistic, flag rows within 80% of the |CUSUM| peak;
    // division-free integer math (n·Cₖ = n·prefixₖ − k·S in cents)
    "q_cusum" -> ((s, d) =>
      timeseries.cusumChangepoints(Tables.events(s, d), "user_id", "ts",
          "event_id", "value", hotFrac10 = 8)
        .orderBy("user_id", "k")),

    // ---- seasonal hour-of-day profile --------------------------------------
    // (event_type, hour) baseline + the single worst residual per cell;
    // output bounded by |types|·24 rows at any corpus size
    "q_seasonal" -> ((s, d) =>
      timeseries.seasonalProfile(Tables.events(s, d), "event_type", "ts",
          "event_id", "value")
        .orderBy("series", "hr")),

    // ---- count-min sketch ---------------------------------------------------
    // mergeable 4×256 frequency sketch over user activity; top-25 keys by
    // point estimate, true count alongside (est ≥ true, always) — the
    // sketch is 1024 additive cells, broadcast at probe time
    "q_cms_topk" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val sketch = sketches.cmsBuild(ev, "user_id", depth = 4,
        width = 256)
      val est = sketches.cmsEstimate(sketch,
        ev.select("user_id").distinct(), "user_id", depth = 4,
        width = 256)
      est.join(ev.groupBy("user_id").agg(count(lit(1)).as("true_c")),
          Seq("user_id"))
        .orderBy(desc("est"), col("user_id"))
        .limit(25)
    }),

    // ---- sketches AT REST: serialize → files → merge -----------------------
    // (oracle for the HLL store rides below with its CMS/quantile kin)
    // two per-shard CMS blobs persisted by sharedSketchStore are read
    // back as FILES, unpacked, and merged by cell addition; the cells
    // must equal a single build over the whole table (additivity is
    // the sketch contract), which is exactly what the oracle computes
    "q_sketch_merge_at_rest" -> ((s, d) => {
      val store = sharedSketchStore(s, d)
      val merged = sketches.cmsMergeCells(
        sketches.cmsDeserialize(Parquet.read(s, s"$store/shard_0"),
          depth = 4, width = 256),
        sketches.cmsDeserialize(Parquet.read(s, s"$store/shard_1"),
          depth = 4, width = 256))
      merged.select(col("seed").cast("bigint").as("seed"),
          col("bucket").cast("bigint").as("bucket"), col("c"))
        .orderBy("seed", "bucket")
    }),

    // the quantile-sketch twin of the same story: two persisted shard
    // bucket files merge by count addition (bkt_hi recomputed from the
    // lower bound's bit width) and answer quantile probes with the
    // identical ≤2^-5 bound a direct whole-table build gives
    "q_quantile_merge_at_rest" -> ((s, d) => {
      val store = sharedSketchStore(s, d)
      val merged = Parquet.read(s, s"$store/qsk_shard_0")
        .unionByName(Parquet.read(s, s"$store/qsk_shard_1"))
        .groupBy("bkt_lo").agg(sum(col("cnt")).as("cnt"))
        .withColumn("bkt_hi", col("bkt_lo") +
          call_function("shiftleft", lit(1L),
            greatest((length(bin(col("bkt_lo"))) - 1)
              .cast("int") - 5, lit(0))) - 1)
      qsketch.quantiles(merged, Seq(250, 750, 990))
        .select(col("q_permille"), col("n"), col("est_lo"),
          col("est_hi"))
        .orderBy("q_permille")
    }),

    // the distinct-count store at rest: two persisted per-shard HLL
    // blobs union into the corpus COUNT(DISTINCT) with no rescan — the
    // q_hll_partitioned verdict shape (exact count hashed, estimate
    // bounded in-row)
    "q_hll_at_rest" -> ((s, d) => {
      val store = sharedSketchStore(s, d)
      val est = Parquet.read(s, s"$store/hll_shard_0")
        .unionByName(Parquet.read(s, s"$store/hll_shard_1"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("est_users"))
      val exact = Tables.events(s, d)
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.crossJoin(exact)
        .select(col("exact_users"),
          (abs(col("est_users") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("ok"))
    }),

    // the decontamination INDEX at rest: the benchmark's Bloom blob is
    // read back as a FILE and probed by the training corpus — the
    // ingest-side deployment of q_bloom_contamination (same verdict
    // shape: exact count hashed, sketch guarantees asserted in-row)
    "q_bloom_at_rest" -> ((s, d) => {
      val store = sharedSketchStore(s, d)
      val docs = t(s, d, "documents")
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val flagged = Dedup.bloomProbe(
        Parquet.read(s, s"$store/bloom_bench"), train, "doc_id", "text",
        k = 5)
      val exact = Dedup.contamination(train,
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 5)
        .select(col("train_id").as("doc_id"), lit(true).as("exact_hit"))
      train.select("doc_id")
        .join(flagged, Seq("doc_id"), "left")
        .join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("bloom_hit"), lit(false)).as("bh"),
          coalesce(col("exact_hit"), lit(false)).as("eh"))
        .agg(
          sum(when(col("eh"), 1L).otherwise(0L)).as("n_contaminated"),
          (sum(when(col("eh") && !col("bh"), 1L).otherwise(0L)) === 0L)
            .as("no_false_neg"),
          (sum(when(col("bh") && !col("eh"), 1L).otherwise(0L)) * 20L <=
            sum(when(!col("eh"), 1L).otherwise(0L))).as("fp_ok"))
    }),

    // ---- mergeable quantile sketch (HDR buckets) ---------------------------
    // guaranteed-relative-error percentiles from a value-space-bounded
    // bucket frame (top-6-bits truncation, pure integer bit math); the
    // exact quantile rides along via a distributed per-value prefix sum
    // and the ≤2^-5 containment bound is verified in-row
    "q_quantile_sketch" -> ((s, d) =>
      qsketch.quantileReport(
        t(s, d, "lineitem").select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("v")),
        "v", s = 5, permilles = Seq(10, 250, 500, 750, 990))
        .orderBy("q_permille")),

    // per-GROUP percentiles off the sketch (latency-per-endpoint shape):
    // group-keyed bucket frames, cumulative window partitioned by group
    // (each frame value-space bounded), same per-group ≤2^-5 guarantee
    "q_quantile_by_group" -> ((s, d) =>
      qsketch.groupedQuantiles(
        t(s, d, "lineitem").select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("v")),
        "l_returnflag", "v", s = 5, permilles = Seq(500, 990))
        .orderBy("l_returnflag", "q_permille")),

    // equi-depth feature discretization off the sketch: quartile
    // boundaries from the bucket frame (est_hi at 250/500/750‰), bin =
    // count of boundaries below the value — the boundary array is one
    // broadcast row, the assignment a scan-local HOF
    "q_quantile_bins" -> ((s, d) =>
      qsketch.equiDepthBins(
        t(s, d, "lineitem").select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("v")),
        "v", s = 5, nBins = 4)
        .orderBy("bin")),

    // winsorization (tail clipping) at sketch percentiles: clip to
    // [est_lo(1%), est_hi(99%)] — certain to bracket the true
    // quantiles — and report the audit row (counts clipped per tail,
    // winsorized sum), all integer math
    "q_winsorize" -> ((s, d) =>
      qsketch.winsorize(
        Tables.events(s, d).select(
          (col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("v")),
        "v", s = 5, loPermille = 10, hiPermille = 990)),

    // the MERGE property, demonstrated: per-source sketches built
    // independently (as shards/days would be), merged by count addition,
    // then queried — same bound, same verification
    "q_quantile_merge" -> ((s, d) => {
      // per-shard sketches in ONE scan (group key = shard × bucket,
      // exactly what independently-built shard sketches would hold) …
      val perShard = t(s, d, "lineitem").select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("v"),
          (col("l_orderkey") % 4).as("shard"))
        .select(col("shard"), qsketch.bucketLo(col("v"), 5).as("bkt_lo"))
        .groupBy("shard", "bkt_lo").agg(count(lit(1)).as("cnt"))
      // … merged by count addition — the whole point of the sketch
      val merged = perShard.groupBy("bkt_lo")
        .agg(sum(col("cnt")).as("cnt"))
        .withColumn("bkt_hi", col("bkt_lo") +
          call_function("shiftleft", lit(1L),
            greatest((length(bin(col("bkt_lo"))) - 1)
              .cast("int") - 5, lit(0))) - 1)
      qsketch.quantiles(merged, Seq(500, 990))
        .select(col("q_permille"), col("n"), col("est_lo"), col("est_hi"))
        .orderBy("q_permille")
    }),

    // ---- join-size estimation from sketches ----------------------------------
    // |orders ⋈ lineitem| predicted by the CMS inner product — two 4×4096
    // summaries, no scan of either input at estimate time; the exact size
    // rides along. Deterministic buckets make even the ESTIMATE
    // oracle-reproducible
    "q_cms_join_size" -> ((s, d) => {
      // ONE scan per input: the per-key count frames feed both the
      // weighted sketch build and the exact-size branch (staged so the
      // two consumers share the aggregation)
      val ka = t(s, d, "orders")
        .groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("ca")).stage()
      val kb = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("cb")).stage()
      val est = sketches.cmsJoinSize(
        sketches.cmsBuildWeighted(ka, "k", "ca", depth = 4,
          width = 4096),
        sketches.cmsBuildWeighted(kb, "k", "cb", depth = 4,
          width = 4096))
      val exact = ka.join(kb, Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("exact_join_size"))
      est.crossJoin(exact) // two one-row frames
        .select(col("est_join_size"), col("exact_join_size"),
          (col("est_join_size") >= col("exact_join_size")).as("never_under"))
    }),

    // ---- 2-D Pareto skyline -------------------------------------------------
    // parts not dominated on (size, price): per-size minima (bounded by
    // size's value space) → tiny strict-prefix frontier → broadcast filter
    "q_skyline" -> ((s, d) =>
      analytics.skyline2(
        t(s, d, "part").select(col("p_partkey"), col("p_size"),
          (col("p_retailprice").cast("decimal(18,2)") * 100)
            .cast("long").as("price_c")),
        "p_size", "price_c")
        .orderBy("p_partkey")),

    // ---- sweep-line peak concurrency --------------------------------------
    // max simultaneously-open 30-day order windows per priority, via the
    // distributed prefix sum in ops.sweepline — no single-partition
    // window anywhere, the only global object is the (key, month-bucket)
    // offset table
    "q_concurrency_peak" -> ((s, d) =>
      sweepline.peakConcurrency(
        t(s, d, "orders").select(col("o_orderpriority").as("pri"),
          col("o_orderdate").as("o_start"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("o_end")),
        "pri", "o_start", "o_end", bucketSeconds = 32L * 24 * 3600)),

    // ---- sliding-window aggregation (§2.9 extension) ----------------------
    "q_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("win.start").as("window_start"), col("event_type"),
          col("cnt"), col("sum_value"))),

    // ---- JSON props (events.props → typed) --------------------------------
    "q_json_props" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
        .select(col("event_id"), element_at(col("m"), "k").as("k_val"))),

    // Spark 4 VARIANT path for the same payload: parse once to the
    // binary variant encoding, then TYPED path extraction — unlike
    // from_json this needs no up-front schema, which is the 100 TB
    // semistructured-ingest story (schema drift lands as variant, not
    // as a quarantine batch). Absent paths are NULL, not errors.
    "q_json_variant" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k_val"),
          expr("variant_get(v, '$.absent', 'bigint')").as("absent_val"))),

    // the datasheet a published corpus ships with — Text.dataCard
    "q_data_card" -> ((s, d) =>
      Text.dataCard(t(s, d, "documents"), "doc_id", "text", "lang",
        "source")),

    // per-supplier shipment-volume trend: OLS from exact integer
    // moment sums — ops.analytics.groupTrend
    "q_trend" -> ((s, d) =>
      analytics.groupTrend(t(s, d, "lineitem"), "l_suppkey",
        datediff(col("l_shipdate").cast("date"),
          to_date(lit("1992-01-01"))),
        col("l_quantity"))),

    // corpus-mix concentration: Gini over per-source token mass —
    // ops.analytics.giniConcentration on the aggregated source table
    "q_gini_sources" -> ((s, d) =>
      analytics.giniConcentration(
        t(s, d, "documents").groupBy("source")
          .agg(sum(coalesce(Text.tokenCount(col("text")).cast("long"),
            lit(0L))).as("tok")),
        "source", "tok")),

    // χ² independence of (lang, source): is any crawl source quietly
    // deciding a language's representation? One contingency agg,
    // zero cells materialized, per-cell terms in integer micros
    "q_chi2_assoc" -> ((s, d) =>
      analytics.chiSquare(t(s, d, "documents"), "lang", "source")),

    // recency-weighted per-user engagement: integer-micros decay snap
    // keeps the weighted sum associative — ops.timeseries.decayedSum
    "q_decayed_agg" -> ((s, d) =>
      graft.ops.timeseries.decayedSum(Tables.events(s, d), "user_id",
        "ts", "value", halflifeSec = 86400L)),

    // cross-scorer calibration: percent-rank n_chars within each
    // source, keep the per-source top quarter — Text.rankNormalize
    "q_rank_norm" -> ((s, d) =>
      Text.rankNormalize(t(s, d, "documents"), "source",
        col("n_chars"), "doc_id", keepTop = 0.25)),

    // k-anonymity release gate over quasi-identifiers (nation, segment,
    // balance bucket): rare combinations are generalized to '*' before
    // the table can leave the enclave — ops.relational.kAnonymity
    "q_k_anonymity" -> ((s, d) =>
      graft.ops.relational.kAnonymity(
        t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal") / 500).cast("long").as("bal_bucket")),
        Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 5)),

    // l-diversity homogeneity gate on top of the k-anonymity shape:
    // a (nation, balance-bucket) group whose members all share one
    // market segment leaks it — sensitive value masked, row flagged
    "q_l_diversity" -> ((s, d) =>
      graft.ops.relational.lDiversity(
        t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") / 500).cast("long").as("bal_bucket"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment", l = 3)),

    // ---- exact trimmed mean ---------------------------------------------------
    // mean of the middle 80% per event type — distinct-value rank blocks,
    // integer interval clipping, exact under any tie structure
    "q_trimmed_mean" -> ((s, d) =>
      analytics.trimmedMean(
        Tables.events(s, d).select(col("event_type"),
          (col("value").cast("decimal(18,2)") * lit(100))
            .cast("long").as("v_c")),
        "event_type", "v_c", trimPct = 10)
        .orderBy("g")),

    // ---- calibration bins ------------------------------------------------------
    // decile buckets of the score vs observed positive rate — the
    // reliability-curve table every scorer eval reports next to AUC
    "q_calibration" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          (col("value").cast("decimal(18,2)") * lit(100))
            .cast("long").as("v_c"),
          (col("event_type") === "purchase").cast("long").as("pos"))
        .select(least(expr("v_c div 1000"), lit(9L)).as("bin"),
          col("pos"), col("v_c"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(col("v_c")).as("s"))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("(n_pos * 1000000L) div n").as("rate_micro"),
          expr("(s * 10000L) div n").as("mean_score_micro"))
        .orderBy("bin")),

    // ---- exact ROC-AUC by rank sum -------------------------------------------
    // does event value predict 'purchase'? Mann-Whitney over cent-
    // quantized scores, tie blocks exact — distinct-score frame, never a
    // per-row rank
    "q_auc_rank" -> ((s, d) =>
      LabelEval.aucRank(
        Tables.events(s, d).select(
          (col("value").cast("decimal(18,2)") * lit(100))
            .cast("long").as("score_c"),
          (col("event_type") === "purchase").as("is_pos")),
        "score_c", "is_pos")),

    // ---- sequential 2-patterns ----------------------------------------------
    // ∃ a-event before b-event per user — order-aware pair support, the
    // GSP/PrefixSpan length-2 level; first/last extrema only, never events²
    "q_seq_patterns" -> ((s, d) =>
      baskets.sequentialPairs(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type")),

    // ---- market-basket association rules ----------------------------------
    // confidence/lift for parts co-purchased in ≥2 orders — the rule
    // view of the same basket machinery behind the co-occurrence graph
    "q_assoc_rules" -> ((s, d) =>
      baskets.associationRules(
        t(s, d, "lineitem").select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")),
        "basket", "item", minSupport = 2)
        .orderBy(col("lift_micro").desc, col("ante"), col("cons"))
        .limit(50)),

    // ---- time-series gap filling ------------------------------------------
    "q_gap_fill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
      graft.ops.timeseries.fillDailyGaps(daily, "user_id", "day",
        Seq("cnt" -> lit(0L), "sum_value" -> lit(0.0)))
    }),

    // ---- ranked-distribution window functions (§2.8 completeness) ---------
    "q_window_percent" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_returnflag"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        nth_value(col("l_extendedprice"), 3).over(w).as("third_price"))
    }),

    // ---- time-series: linear interpolation over the densified series ------
    "q_ts_interpolate" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      val dense = timeseries.fillDailyGaps(daily, "user_id", "day",
        Seq("v" -> lit(null).cast("double")))
      timeseries.interpolateLinear(dense, "user_id", "day", "v")
        .withColumn("v", graft.ops.analytics.roundDouble(col("v"), 6))
    }),

    // ---- time-series: trailing 7-day window stats over the dense series ---
    // gap filling first so "7 rows" IS "7 days"; the window sum routes
    // through decimal so the running accumulation order can't diverge
    // the float hash between engines
    "q_ts_moving" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
      val dense = timeseries.fillDailyGaps(daily, "user_id", "day",
        Seq("cnt" -> lit(0L), "sum_value" -> lit(0.0)))
      val w7 = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      dense.select(col("user_id"), col("day"),
        sum(col("cnt")).over(w7).as("cnt_7d"),
        sum(col("sum_value").cast("decimal(18,2)")).over(w7).cast("double")
          .as("sum_7d"),
        max(col("sum_value")).over(w7).as("max_7d"))
    }),

    // ---- funnel analysis (view → click → purchase) ------------------------
    "q_funnel" -> ((s, d) =>
      analytics.funnel(Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),

    // ---- cohort retention grid --------------------------------------------
    "q_cohort" -> ((s, d) =>
      analytics.cohortRetention(Tables.events(s, d), "user_id", "ts")),

    // ---- SCD type-2 validity intervals ------------------------------------
    // order priority history per customer; (o_orderdate, o_orderkey)
    // makes the per-key sort total, so interval boundaries are
    // deterministic under any partitioning
    "q_scd2" -> ((s, d) =>
      analytics.scd2Intervals(t(s, d, "orders"), "o_custkey",
        "o_orderdate", Seq(col("o_orderdate"), col("o_orderkey")),
        "o_orderpriority")),

    // ---- data profiling (one scan, long format) ---------------------------
    // all 16 stats come out of ONE aggregate over one scan (partial agg
    // map-side), then stack() pivots to a row per column — no per-column
    // re-scan, which is the difference between 1× and k× input reads at
    // 100 TB
    "q_profile" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      def stats(c: String) = Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        round(sum(col(c).cast("decimal(18,2)")).cast("double") /
          count(col(c)), 6).as(s"avg_$c"))
      val exprs = count(lit(1)).as("n_rows") +: cols.flatMap(stats)
      // the multi-distinct agg Expands the input 4× and does its partial
      // aggregation in the SCAN stage; the testdata is one row group per
      // file, so without a redistribution that stage is one task. On a
      // real lake the file count parallelizes the scan and this exchange
      // coalesces away under AQE (10 MB here — noise next to a 4× Expand)
      val in = t(s, d, "lineitem").select(cols.map(col): _*)
      val par = if (in.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
        in.repartition(s.sparkContext.defaultParallelism) else in
      par.agg(exprs.head, exprs.tail: _*)
        .select(expr("stack(3, " + cols.map(c =>
          s"'$c', n_rows, nn_$c, nd_$c, min_$c, max_$c, avg_$c")
          .mkString(", ") +
          ") as (col_name, n_rows, n_nonnull, n_distinct, min_v, max_v, avg_v)"))
    }),

    // the 100 TB profile path: approx_count_distinct replaces the
    // multi-distinct, so the aggregate needs NO Expand — the scan is
    // read once at 1× volume instead of 4× (plan-guarded in PlanSpec).
    // The exact-distinct audit agg here exists only to turn the sketch
    // into a bounded-error verdict the oracle can check; production runs
    // the approx half alone.
    "q_profile_approx" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val in = t(s, d, "lineitem").select(cols.map(col): _*)
      // checkpoint the spread input ONCE: the profile agg and the exact
      // audit agg both read it, and without the pin each branch would
      // re-run the scan + repartition
      val par = (if (in.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
        in.repartition(s.sparkContext.defaultParallelism) else in)
        .stage()
      // UNPIVOT first, sketch per GROUP: k approx_count_distinct buffers
      // side by side in ONE aggregate lay k·numWords longs in the agg
      // row and the generated update path degrades superlinearly with
      // buffer width (measured 0.6 s for one HLL++ → 7 s for three at
      // rsd 0.02). One (col_name, v) row per column per input row keeps
      // exactly one sketch buffer per hash-map entry, and adding profile
      // columns scales the GROUP count, never the buffer width.
      // The sketch is DataSketches HLL (hll_sketch_agg): its sparse
      // mode is exact at small cardinalities (l_quantity: 50) where
      // HLL++'s dense estimator carries a bias that busts a 5% verdict.
      // It ingests discrete types only, so v is pre-hashed with
      // xxhash64 — a 64-bit injective-in-practice fingerprint (collision
      // odds ~n²/2⁶⁵, invisible next to the 2% sketch rsd).
      val longF = par.select(expr("stack(3, " +
        cols.map(c => s"'$c', $c").mkString(", ") + ") as (col_name, v)"))
      val prof = longF.groupBy("col_name").agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        // null-guarded: xxhash64(NULL) returns the seed (42L), not
        // null, so an unguarded hash would count null rows as one
        // extra distinct value where countDistinct ignores them
        hll_sketch_estimate(hll_sketch_agg(
          when(col("v").isNotNull, xxhash64(col("v")))))
          .as("nd_approx"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        round(sum(col("v").cast("decimal(18,2)")).cast("double") /
          count(col("v")), 6).as("avg_v"))
      val exact = longF.groupBy("col_name")
        .agg(countDistinct(col("v")).as("nd_exact"))
      prof.join(exact, "col_name")
        .select(col("col_name"), col("n_rows"), col("n_nonnull"),
          col("nd_exact").as("n_distinct"), col("min_v"), col("max_v"),
          col("avg_v"),
          (abs(col("nd_approx") - col("nd_exact")) <=
            col("nd_exact") * lit(0.05)).as("nd_ok"))
    }),

    // ---- longest activity streak (gaps-and-islands) --------------------------
    // per-user longest run of consecutive active days: day − row_number
    // is constant within a run — two hash aggs on the deduped (user, day)
    // frame, per-user windows, ties break to the latest run
    "q_streaks" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days
        .withColumn("grp", expr("date_sub(day, row_number() over " +
          "(partition by user_id order by day))"))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
        .groupBy("user_id")
        .agg(max(struct(col("len"), col("start_day"))).as("m"))
        .select(col("user_id"), col("m.len").as("best_len"),
          col("m.start_day").as("best_start"))
        .orderBy("user_id")
    }),

    // ---- period-over-period growth --------------------------------------------
    // daily volume per event type vs 7 days earlier, growth in floor
    // micros — lag over the pre-aggregated daily frame, never raw rows
    "q_pop" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("prev", lag(col("cnt"), 7).over(w))
        .withColumn("prev_day", lag(col("day"), 7).over(w))
        // the calendar is dense in this corpus; guard anyway: a 7-row
        // lag only IS week-over-week when the lagged row is 7 days back
        .filter(col("prev").isNotNull &&
          datediff(col("day"), col("prev_day")) === 7)
        .select(col("event_type"), col("day"), col("cnt"), col("prev"),
          expr("((cnt - prev) * 1000000L) div prev").as("wow_micro"))
        .orderBy("event_type", "day")
    }),

    // two-sample Kolmogorov-Smirnov drift, exact in integers: D between
    // the purchase-event value distribution and everything else — the
    // numerator is cross-multiplied cumulative counts (decimal(38,0)),
    // so the statistic is engine-reproducible with no float CDF math
    "q_ks_drift" -> ((s, d) =>
      analytics.ksDrift(
        Tables.events(s, d).select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("v")),
        sideA = col("event_type") === "purchase", "v")),

    // the integral companion: exact 1-D Wasserstein between the same
    // two samples — "how much mass moved how far", in micro-cents
    "q_emd_drift" -> ((s, d) =>
      analytics.emdDrift(
        Tables.events(s, d).select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("v")),
        sideA = col("event_type") === "purchase", "v")),

    // ---- rolling 7-day distinct users via mergeable HLL sketches ----------
    // THE sketch-reuse pattern at 100 TB: one pass builds |days| daily
    // sketches, every overlapping window UNIONS ≤7 of them instead of
    // rescanning its rows — hll_union_agg is the mergeable half that
    // approx_count_distinct (a one-shot scalar) can't express. The tiny
    // calendar frame broadcasts into the range join; exact counts ride
    // along for the bounded-error verdict the oracle asserts.
    "q_rolling_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daily = ev
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy("day")
        .agg(hll_sketch_agg(xxhash64(col("user_id"))).as("sk"))
        .stage()
      val cal = daily.select(col("day").as("anchor"))
      val est = cal.join(daily,
          datediff(col("anchor"), col("day")).between(0, 6))
        .groupBy("anchor")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          count(lit(1)).as("n_days"))
      val pairs = ev
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val exact = cal.join(pairs,
          datediff(col("anchor"), col("day")).between(0, 6))
        .groupBy("anchor")
        .agg(countDistinct(col("user_id")).as("exact_7d"))
      est.join(exact, Seq("anchor"))
        .select(col("anchor").as("day"), col("n_days"), col("exact_7d"),
          (abs(col("est") - col("exact_7d")) <=
            col("exact_7d") * lit(0.05)).as("est_ok"))
        .orderBy("day")
    }),

    // ---- fixed-width histogram --------------------------------------------
    "q_histogram" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(floor(col("o_totalprice") / 25000).cast("int").as("bin"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .withColumn("bin_lo", col("bin").cast("double") * 25000)),

    // ---- robust outlier screen (modified z-score, median/MAD) -------------
    "q_outliers" -> ((s, d) =>
      analytics.robustOutliers(Tables.events(s, d), "event_type", "value",
        Seq("event_id"), zThresh = 3.5)),

    // group-wise publish gate: every SOURCE must satisfy the contract
    // (row-count band, text completeness, mean-length band) — one
    // map-side-combined groupBy, |sources|·|checks| report rows
    "q_expectations_by" -> ((s, d) => {
      import expectations._
      validateBy(t(s, d, "documents"), Seq("source"), Seq(
        Check("doc_count", count(lit(1)).cast("double"), 20.0, 30.0),
        Check("text_complete", completeness(col("text")), 1.0, 1.0),
        Check("mean_chars", mean(col("n_chars")), 100.0, 600.0)))
    }),

    // Deequ-style publish gate on orders: 6 constraints, ONE aggregation
    // pass (key uniqueness, FK completeness, status domain, priority
    // format, price bounds, decimal-sum mean band)
    "q_expectations" -> ((s, d) => {
      import expectations._
      validate(t(s, d, "orders"), Seq(
        Check("o_orderkey_unique", uniqueness(col("o_orderkey")), 1.0, 1.0),
        Check("o_custkey_complete", completeness(col("o_custkey")), 1.0, 1.0),
        Check("o_orderstatus_domain",
          inSetRate(col("o_orderstatus"), Seq("F", "O", "P")), 1.0, 1.0),
        Check("o_orderpriority_format",
          matchRate(col("o_orderpriority"), "^[1-5]-[A-Z ]+$"), 1.0, 1.0),
        Check("o_totalprice_min", min(col("o_totalprice")), 0.0, 1e9),
        Check("o_totalprice_mean", mean(col("o_totalprice")),
          200000.0, 300000.0)))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_asof_join" ->
      """WITH ord AS (
           SELECT o_custkey % 25 AS uk, o_orderdate,
                  max_by(o_orderkey, o_orderkey) AS o_orderkey,
                  max_by(o_totalprice, o_orderkey) AS o_totalprice
           FROM orders GROUP BY 1, 2),
         ev AS (SELECT event_id, ts, user_id % 25 AS uk FROM events)
         SELECT e.event_id, o.o_orderkey, o.o_totalprice
         FROM ev e ASOF LEFT JOIN ord o
           ON e.uk = o.uk AND e.ts >= o.o_orderdate""",

    "q_range_join" ->
      """SELECT l_orderkey, l_linenumber, o_orderkey
         FROM lineitem JOIN orders
           ON l_partkey % 200 = o_orderkey % 200
              AND o_orderdate <= l_shipdate
              AND l_shipdate < o_orderdate + INTERVAL 30 DAY""",

    "q_interval_overlap" ->
      """SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key
         FROM orders a JOIN orders b
           ON a.o_custkey % 200 = b.o_custkey % 200
              AND a.o_orderdate < b.o_orderdate + INTERVAL 30 DAY
              AND b.o_orderdate < a.o_orderdate + INTERVAL 30 DAY
         WHERE a.o_orderkey % 2 = 0 AND b.o_orderkey % 2 = 1""",

    // identical WHEN chain as rangejoin.allenRelations — each arm
    // mutually exclusive with every earlier arm; closed contact
    // predicate admits boundary-only meets/met_by pairs
    "q_allen_relations" ->
      """WITH a AS (SELECT o_orderdate AS a_start,
                           o_orderdate +
                             to_days(((o_orderkey % 3 + 1) * 10)::INT)
                             AS a_end,
                           o_custkey % 200 AS shard
                    FROM orders WHERE o_orderkey % 2 = 0),
         b AS (SELECT o_orderdate AS b_start,
                      o_orderdate +
                        to_days(((o_orderkey % 3 + 1) * 10)::INT)
                        AS b_end,
                      o_custkey % 200 AS shard
               FROM orders WHERE o_orderkey % 2 = 1),
         pairs AS (
           SELECT CASE
             WHEN a_start = b_start AND a_end = b_end THEN 'equals'
             WHEN a_end = b_start THEN 'meets'
             WHEN b_end = a_start THEN 'met_by'
             WHEN a_start = b_start AND a_end < b_end THEN 'starts'
             WHEN a_start = b_start THEN 'started_by'
             WHEN a_end = b_end AND a_start > b_start THEN 'finishes'
             WHEN a_end = b_end THEN 'finished_by'
             WHEN a_start > b_start AND a_end < b_end THEN 'during'
             WHEN a_start < b_start AND a_end > b_end THEN 'contains'
             WHEN a_start < b_start THEN 'overlaps'
             ELSE 'overlapped_by' END AS relation
           FROM a JOIN b ON a.shard = b.shard
             AND a_start <= b_end AND b_start <= a_end)
         SELECT relation, COUNT(*) AS n_pairs
         FROM pairs GROUP BY relation ORDER BY relation""",

    // duration in exact seconds is (days)·86400 — UTC day arithmetic
    // has no DST — so the twin skips the timestamp round-trip;
    // HUGEINT products mirror the engine's decimal(38,0) staging
    "q_time_weighted_avg" ->
      """WITH iv AS (
           SELECT o_orderpriority AS pri,
                  (o_orderkey % 60 + 1) * 86400 AS dur,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
         SELECT pri, COUNT(*) AS n_intervals,
                CAST(SUM(dur) AS BIGINT) AS total_seconds,
                CAST(SUM(cents::HUGEINT * dur) // SUM(dur)::HUGEINT
                  AS BIGINT) AS twa_cents
         FROM iv GROUP BY pri""",

    // daily candles: open/close picked by (ts, event_id) rank; every
    // value cell is integer cents so both engines' results land in
    // pandas as int64 (no DOUBLE repr / DECIMAL-object divergence)
    "q_ohlc_bars" ->
      """WITH t0 AS (
           SELECT event_type, event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v_c,
                  CAST(to_timestamp(CAST(floor(epoch(ts) / 86400)
                    AS BIGINT) * 86400) AS TIMESTAMP) AS bar_start
           FROM events),
         w AS (SELECT *,
                      row_number() OVER (PARTITION BY event_type,
                        bar_start ORDER BY ts, event_id) AS rn_a,
                      row_number() OVER (PARTITION BY event_type,
                        bar_start ORDER BY ts DESC, event_id DESC)
                        AS rn_d
               FROM t0)
         SELECT event_type, bar_start,
                CAST(MAX(CASE WHEN rn_a = 1 THEN v_c END) AS BIGINT)
                  AS open_c,
                CAST(MAX(v_c) AS BIGINT) AS high_c,
                CAST(MIN(v_c) AS BIGINT) AS low_c,
                CAST(MAX(CASE WHEN rn_d = 1 THEN v_c END) AS BIGINT)
                  AS close_c,
                COUNT(*) AS n_ticks,
                CAST(SUM(v_c) AS BIGINT) AS volume_c
         FROM w GROUP BY event_type, bar_start
         ORDER BY event_type, bar_start""",

    // additivity is the contract: the two persisted shard sketches merge
    // to exactly the single-build cells over the whole table, which the
    // twin computes directly (no serialization on the oracle side — an
    // INDEPENDENT route to the same grid)
    "q_sketch_merge_at_rest" ->
      """WITH keys AS (SELECT user_id, COUNT(*) AS true_c
                       FROM events GROUP BY 1),
         pairs AS (SELECT k.user_id, s.seed,
                          ('0x' || substr(md5(s.seed::VARCHAR || ':' ||
                            k.user_id::VARCHAR), 1, 8))::BIGINT % 256
                            AS bucket
                   FROM keys k, (SELECT unnest(range(4)) AS seed) s)
         SELECT p.seed::BIGINT AS seed, p.bucket::BIGINT AS bucket,
                CAST(SUM(k.true_c) AS BIGINT) AS c
         FROM pairs p JOIN keys k USING (user_id)
         GROUP BY 1, 2
         ORDER BY seed, bucket""",

    // per-user lead() step pairs; P(to|from) by integer floor division
    "q_markov_transitions" ->
      """WITH s AS (
           SELECT user_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
           FROM events),
         pc AS (SELECT event_type AS from_type, nxt AS to_type,
                       COUNT(*) AS c
                FROM s WHERE nxt IS NOT NULL
                GROUP BY 1, 2),
         ft AS (SELECT from_type, SUM(c) AS tot FROM pc GROUP BY 1)
         SELECT pc.from_type, pc.to_type, pc.c,
                CAST((pc.c * 1000000) // ft.tot AS BIGINT) AS p_micro
         FROM pc JOIN ft USING (from_type)
         ORDER BY from_type, to_type""",

    // per-user CUSUM scaled by n (exact integers), flag ≥80% of peak
    "q_cusum" ->
      """WITH c AS (
           SELECT user_id, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v_c,
                  CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
                  SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    OVER w AS prefix,
                  COUNT(*) OVER (PARTITION BY user_id) AS n,
                  SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    OVER (PARTITION BY user_id) AS s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (SELECT *, n * prefix - k * s AS nc,
                      MAX(ABS(n * prefix - k * s))
                        OVER (PARTITION BY user_id) AS peak
               FROM c)
         SELECT user_id, event_id, k, v_c,
                CAST((nc * 10000) // n AS BIGINT) AS cusum_micro
         FROM f WHERE peak > 0 AND ABS(nc) * 10 >= peak * 8
         ORDER BY user_id, k""",

    // (type, hour) baseline; worst residual per cell by (|r·n| desc, id)
    "q_seasonal" ->
      """WITH c AS (
           SELECT event_type AS series, EXTRACT(hour FROM ts) AS hr,
                  event_id AS tie,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v_c
           FROM events),
         st AS (SELECT series, hr, COUNT(*) AS n, SUM(v_c) AS s
                FROM c GROUP BY 1, 2),
         r AS (SELECT c.series, c.hr, c.tie, st.n, st.s,
                      c.v_c * st.n - st.s AS rn,
                      ROW_NUMBER() OVER (PARTITION BY c.series, c.hr
                        ORDER BY ABS(c.v_c * st.n - st.s) DESC, c.tie)
                        AS rk
               FROM c JOIN st USING (series, hr))
         SELECT series, hr, n,
                CAST((s * 10000) // n AS BIGINT) AS mean_micro,
                tie AS peak_tie,
                CAST((rn * 10000) // n AS BIGINT) AS peak_res_micro
         FROM r WHERE rk = 1
         ORDER BY series, hr""",

    // dense group × segment grid (zero cells count), micro-quantized
    // p/q, one truncating halving — overflow-free at any table size
    "q_t_closeness" ->
      """WITH base AS (
           SELECT c_nationkey,
                  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
                  c_mktsegment
           FROM customer),
         cells AS (
           SELECT c_nationkey, bal_bucket, c_mktsegment,
                  count(*)::BIGINT AS c
           FROM base GROUP BY 1, 2, 3),
         n AS (SELECT sum(c)::BIGINT AS n FROM cells),
         global AS (
           SELECT c_mktsegment,
                  ((sum(c) * 1000000) // n.n)::BIGINT AS qm
           FROM cells, n GROUP BY c_mktsegment, n.n),
         totals AS (
           SELECT c_nationkey, bal_bucket, sum(c)::BIGINT AS ng
           FROM cells GROUP BY 1, 2),
         grid AS (
           SELECT t.c_nationkey, t.bal_bucket, t.ng, g.c_mktsegment,
                  g.qm, COALESCE(c.c, 0)::BIGINT AS c
           FROM totals t CROSS JOIN global g
           LEFT JOIN cells c USING (c_nationkey, bal_bucket,
             c_mktsegment))
         SELECT c_nationkey, bal_bucket, ng AS n_group,
                (sum(abs((c * 1000000) // ng - qm)) // 2)::BIGINT
                  AS t_micro,
                (sum(abs((c * 1000000) // ng - qm)) // 2)::BIGINT
                  <= 300000 AS releasable
         FROM grid
         GROUP BY c_nationkey, bal_bucket, ng
         ORDER BY c_nationkey, bal_bucket""",

    // same md5 fold assignment; out-of-fold mean in integer micros
    "q_target_encoding" ->
      """WITH f AS (
           SELECT o_orderpriority,
                  ('0x' || substr(md5('te|' || o_orderkey), 1, 8))
                    ::BIGINT % 5 AS fold,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS y
           FROM orders),
         pf AS (
           SELECT o_orderpriority, fold, sum(y)::BIGINT AS s,
                  count(*)::BIGINT AS n_fold
           FROM f GROUP BY 1, 2),
         pc AS (
           SELECT o_orderpriority, sum(s)::BIGINT AS st,
                  sum(n_fold)::BIGINT AS ct
           FROM pf GROUP BY 1)
         SELECT pf.o_orderpriority, pf.fold, pf.n_fold,
                CASE WHEN pc.ct > pf.n_fold
                     THEN (((pc.st - pf.s) * 1000000)
                           // (pc.ct - pf.n_fold))::BIGINT
                     END AS enc_micro
         FROM pf JOIN pc USING (o_orderpriority)
         ORDER BY o_orderpriority, fold""",

    // same keyed-hash draws (hex-prefix cast), integer-exact debias in
    // HUGEINT (the engine side uses decimal(38,0)) so observed·2e9·1e3
    // cannot overflow int64 at huge groups; // is safe: the numerator
    // is positive at any realistic rate
    "q_randomized_response" ->
      """WITH r AS (
           SELECT user_id % 8 AS cohort,
                  CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                         AS BIGINT) > 25000 THEN 1 ELSE 0 END AS bit,
                  ('0x' || substr(md5('rr_flip|' || event_id), 1, 8))
                    ::BIGINT % 1000000 AS flip,
                  ('0x' || substr(md5('rr_coin|' || event_id), 1, 8))
                    ::BIGINT % 1000000 AS coin
           FROM events),
         g AS (
           SELECT cohort, count(*)::BIGINT AS n,
                  sum(CASE WHEN flip < 250000
                           THEN CASE WHEN coin < 500000 THEN 1 ELSE 0 END
                           ELSE bit END)::BIGINT AS observed,
                  sum(bit)::BIGINT AS true_c
           FROM r GROUP BY cohort)
         SELECT cohort, n, observed,
                CAST((observed::HUGEINT * 2000000 - 250000::HUGEINT * n)
                  * 1000 // (2 * (1000000 - 250000)) AS BIGINT)
                  AS est_milli,
                true_c
         FROM g ORDER BY cohort""",

    // HDR bucket = v truncated to its top 6 significant bits — pure
    // integer bit math on both engines (bin()/shifts, no float log)
    "q_quantile_sketch" ->
      """WITH vals AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
           FROM lineitem),
         b AS (
           SELECT CASE WHEN length(bin(v)) - 6 > 0
                       THEN length(bin(v)) - 6 ELSE 0 END AS sh, v
           FROM vals),
         sk AS (
           SELECT (v >> sh) << sh AS bkt_lo,
                  ((v >> sh) << sh) + (1::BIGINT << sh) - 1 AS bkt_hi,
                  count(*)::BIGINT AS cnt
           FROM b GROUP BY 1, 2),
         cum AS (
           SELECT bkt_lo, bkt_hi,
                  sum(cnt) OVER (ORDER BY bkt_lo)::BIGINT AS cum
           FROM sk),
         n AS (SELECT sum(cnt)::BIGINT AS n FROM sk),
         probes AS (
           SELECT q_permille, n,
                  ((q_permille * n + 999) // 1000)::BIGINT AS target
           FROM (VALUES (10::BIGINT), (250::BIGINT), (500::BIGINT),
                        (750::BIGINT), (990::BIGINT)) q(q_permille), n),
         est AS (
           SELECT q_permille, n, target,
                  min(bkt_lo)::BIGINT AS est_lo,
                  arg_min(bkt_hi, bkt_lo)::BIGINT AS est_hi
           FROM probes JOIN cum ON cum >= target
           GROUP BY 1, 2, 3),
         pvc AS (
           SELECT v, sum(c) OVER (ORDER BY v)::BIGINT AS cum
           FROM (SELECT v, count(*)::BIGINT AS c FROM vals GROUP BY v)),
         ex AS (
           SELECT q_permille, n, est_lo, est_hi,
                  min(v)::BIGINT AS exact_v
           FROM est JOIN pvc ON pvc.cum >= est.target
           GROUP BY 1, 2, 3, 4)
         SELECT q_permille, n, est_lo, est_hi, exact_v,
                exact_v BETWEEN est_lo AND est_hi AS within_bound
         FROM ex ORDER BY q_permille""",

    // the same bucket math with a group key threaded through every CTE
    "q_quantile_by_group" ->
      """WITH vals AS (
           SELECT l_returnflag AS g,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
           FROM lineitem),
         b AS (
           SELECT g, CASE WHEN length(bin(v)) - 6 > 0
                          THEN length(bin(v)) - 6 ELSE 0 END AS sh, v
           FROM vals),
         sk AS (
           SELECT g, (v >> sh) << sh AS bkt_lo,
                  ((v >> sh) << sh) + (1::BIGINT << sh) - 1 AS bkt_hi,
                  count(*)::BIGINT AS cnt
           FROM b GROUP BY 1, 2, 3),
         cum AS (
           SELECT g, bkt_lo, bkt_hi,
                  sum(cnt) OVER (PARTITION BY g ORDER BY bkt_lo)::BIGINT
                    AS cum
           FROM sk),
         n AS (SELECT g, sum(cnt)::BIGINT AS n FROM sk GROUP BY g),
         probes AS (
           SELECT g, q_permille, n,
                  ((q_permille * n + 999) // 1000)::BIGINT AS target
           FROM (VALUES (500::BIGINT), (990::BIGINT)) q(q_permille), n)
         SELECT p.g AS l_returnflag, p.q_permille, p.n,
                min(c.bkt_lo)::BIGINT AS est_lo,
                arg_min(c.bkt_hi, c.bkt_lo)::BIGINT AS est_hi
         FROM probes p JOIN cum c ON p.g = c.g AND c.cum >= p.target
         GROUP BY 1, 2, 3
         ORDER BY l_returnflag, q_permille""",

    // same bucket math, then bin = count of quartile boundaries
    // (est_hi at 250/500/750‰) strictly below the value
    "q_quantile_bins" ->
      """WITH vals AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
           FROM lineitem),
         b AS (
           SELECT CASE WHEN length(bin(v)) - 6 > 0
                       THEN length(bin(v)) - 6 ELSE 0 END AS sh, v
           FROM vals),
         sk AS (
           SELECT (v >> sh) << sh AS bkt_lo,
                  ((v >> sh) << sh) + (1::BIGINT << sh) - 1 AS bkt_hi,
                  count(*)::BIGINT AS cnt
           FROM b GROUP BY 1, 2),
         cum AS (
           SELECT bkt_lo, bkt_hi,
                  sum(cnt) OVER (ORDER BY bkt_lo)::BIGINT AS cum
           FROM sk),
         n AS (SELECT sum(cnt)::BIGINT AS n FROM sk),
         probes AS (
           SELECT q_permille, n,
                  ((q_permille * n + 999) // 1000)::BIGINT AS target
           FROM (VALUES (250::BIGINT), (500::BIGINT),
                        (750::BIGINT)) q(q_permille), n),
         est AS (
           SELECT q_permille,
                  arg_min(bkt_hi, bkt_lo)::BIGINT AS est_hi
           FROM probes JOIN cum ON cum >= target
           GROUP BY 1),
         bounds AS (SELECT list(est_hi ORDER BY est_hi) AS bs FROM est),
         binned AS (
           SELECT v, len(list_filter(bs, x -> v > x))::BIGINT AS bin
           FROM vals, bounds)
         SELECT bin, count(*)::BIGINT AS cnt, min(v)::BIGINT AS min_v,
                max(v)::BIGINT AS max_v
         FROM binned GROUP BY bin ORDER BY bin""",

    // same bucket math at 10/990‰, then one clip-and-count pass
    "q_winsorize" ->
      """WITH vals AS (
           SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v
           FROM events),
         b AS (
           SELECT CASE WHEN length(bin(v)) - 6 > 0
                       THEN length(bin(v)) - 6 ELSE 0 END AS sh, v
           FROM vals),
         sk AS (
           SELECT (v >> sh) << sh AS bkt_lo,
                  ((v >> sh) << sh) + (1::BIGINT << sh) - 1 AS bkt_hi,
                  count(*)::BIGINT AS cnt
           FROM b GROUP BY 1, 2),
         cum AS (
           SELECT bkt_lo, bkt_hi,
                  sum(cnt) OVER (ORDER BY bkt_lo)::BIGINT AS cum
           FROM sk),
         n AS (SELECT sum(cnt)::BIGINT AS n FROM sk),
         probes AS (
           SELECT q_permille, n,
                  ((q_permille * n + 999) // 1000)::BIGINT AS target
           FROM (VALUES (10::BIGINT), (990::BIGINT)) q(q_permille), n),
         est AS (
           SELECT q_permille, min(bkt_lo)::BIGINT AS est_lo,
                  arg_min(bkt_hi, bkt_lo)::BIGINT AS est_hi
           FROM probes JOIN cum ON cum >= target
           GROUP BY 1),
         bounds AS (
           SELECT min(CASE WHEN q_permille = 10 THEN est_lo END)
                    ::BIGINT AS lo_bound,
                  min(CASE WHEN q_permille = 990 THEN est_hi END)
                    ::BIGINT AS hi_bound
           FROM est)
         SELECT count(*)::BIGINT AS n, lo_bound, hi_bound,
                sum(CASE WHEN v < lo_bound THEN 1 ELSE 0 END)::BIGINT
                  AS n_clipped_lo,
                sum(CASE WHEN v > hi_bound THEN 1 ELSE 0 END)::BIGINT
                  AS n_clipped_hi,
                sum(greatest(least(v, hi_bound), lo_bound))::BIGINT
                  AS sum_winsorized
         FROM vals, bounds
         GROUP BY lo_bound, hi_bound""",

    // shard sketches merge by count addition before the probe — the
    // merged frame is identical to the direct build, which is the claim
    "q_quantile_merge" ->
      """WITH vals AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
                  l_orderkey % 4 AS shard
           FROM lineitem),
         b AS (
           SELECT shard,
                  CASE WHEN length(bin(v)) - 6 > 0
                       THEN length(bin(v)) - 6 ELSE 0 END AS sh, v
           FROM vals),
         per_shard AS (
           SELECT shard, (v >> sh) << sh AS bkt_lo,
                  count(*)::BIGINT AS cnt
           FROM b GROUP BY 1, 2),
         merged AS (
           SELECT bkt_lo, sum(cnt)::BIGINT AS cnt,
                  bkt_lo + (1::BIGINT <<
                    (CASE WHEN length(bin(bkt_lo)) - 6 > 0
                          THEN length(bin(bkt_lo)) - 6 ELSE 0 END)) - 1
                    AS bkt_hi
           FROM per_shard GROUP BY bkt_lo),
         cum AS (
           SELECT bkt_lo, bkt_hi,
                  sum(cnt) OVER (ORDER BY bkt_lo)::BIGINT AS cum
           FROM merged),
         n AS (SELECT sum(cnt)::BIGINT AS n FROM merged),
         probes AS (
           SELECT q_permille, n,
                  ((q_permille * n + 999) // 1000)::BIGINT AS target
           FROM (VALUES (500::BIGINT), (990::BIGINT)) q(q_permille), n)
         SELECT q_permille, n, min(bkt_lo)::BIGINT AS est_lo,
                arg_min(bkt_hi, bkt_lo)::BIGINT AS est_hi
         FROM probes JOIN cum ON cum >= target
         GROUP BY q_permille, n
         ORDER BY q_permille""",

    // additivity again: two persisted shard bucket files merge to the
    // whole-table sketch, so the twin builds per-shard counts and
    // merges them the same way (shard split irrelevant to the result)
    "q_quantile_merge_at_rest" ->
      """WITH vals AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
                  l_orderkey % 2 AS shard
           FROM lineitem),
         b AS (
           SELECT shard,
                  CASE WHEN length(bin(v)) - 6 > 0
                       THEN length(bin(v)) - 6 ELSE 0 END AS sh, v
           FROM vals),
         per_shard AS (
           SELECT shard, (v >> sh) << sh AS bkt_lo,
                  count(*)::BIGINT AS cnt
           FROM b GROUP BY 1, 2),
         merged AS (
           SELECT bkt_lo, sum(cnt)::BIGINT AS cnt,
                  bkt_lo + (1::BIGINT <<
                    (CASE WHEN length(bin(bkt_lo)) - 6 > 0
                          THEN length(bin(bkt_lo)) - 6 ELSE 0 END)) - 1
                    AS bkt_hi
           FROM per_shard GROUP BY bkt_lo),
         cum AS (
           SELECT bkt_lo, bkt_hi,
                  sum(cnt) OVER (ORDER BY bkt_lo)::BIGINT AS cum
           FROM merged),
         n AS (SELECT sum(cnt)::BIGINT AS n FROM merged),
         probes AS (
           SELECT q_permille, n,
                  ((q_permille * n + 999) // 1000)::BIGINT AS target
           FROM (VALUES (250::BIGINT), (750::BIGINT), (990::BIGINT))
                q(q_permille), n)
         SELECT q_permille, n, min(bkt_lo)::BIGINT AS est_lo,
                arg_min(bkt_hi, bkt_lo)::BIGINT AS est_hi
         FROM probes JOIN cum ON cum >= target
         GROUP BY q_permille, n
         ORDER BY q_permille""",

    // the at-rest probe decides identically to the in-session build
    // (same blob bytes), so the exact-side twin is unchanged
    "q_bloom_at_rest" ->
      s"""WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                     generate_series(1, len(string_split_regex(trim(
                       regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ',
                       'g')), '\\s+')) - 4),
                     i -> array_to_string((string_split_regex(trim(
                       regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ',
                       'g')), '\\s+'))[i:i+4], ' ')))) AS u
            FROM documents),
          bench AS (SELECT DISTINCT u FROM sh WHERE doc_id % 97 = 0),
          cont AS (SELECT DISTINCT doc_id FROM sh
                   WHERE doc_id % 97 <> 0
                     AND u IN (SELECT u FROM bench))
          SELECT (SELECT COUNT(*) FROM cont)::BIGINT AS n_contaminated,
                 TRUE AS no_false_neg, TRUE AS fp_ok""",

    // same salted-md5 cells; per-row inner products, MIN over rows
    "q_cms_join_size" ->
      """WITH ka AS (SELECT o_orderkey AS k, COUNT(*) AS c
                     FROM orders GROUP BY 1),
         kb AS (SELECT l_orderkey AS k, COUNT(*) AS c
                FROM lineitem GROUP BY 1),
         pa AS (SELECT s.seed,
                       ('0x' || substr(md5(s.seed::VARCHAR || ':' ||
                         ka.k::VARCHAR), 1, 8))::BIGINT % 4096 AS bucket,
                       SUM(ka.c) AS ca
                FROM ka, (SELECT unnest(range(4)) AS seed) s
                GROUP BY 1, 2),
         pb AS (SELECT s.seed,
                       ('0x' || substr(md5(s.seed::VARCHAR || ':' ||
                         kb.k::VARCHAR), 1, 8))::BIGINT % 4096 AS bucket,
                       SUM(kb.c) AS cb
                FROM kb, (SELECT unnest(range(4)) AS seed) s
                GROUP BY 1, 2),
         ip AS (SELECT pa.seed, SUM(pa.ca * pb.cb) AS ip
                FROM pa JOIN pb USING (seed, bucket) GROUP BY 1),
         ex AS (SELECT CAST(SUM(ka.c * kb.c) AS BIGINT)
                  AS exact_join_size
                FROM ka JOIN kb USING (k))
         SELECT CAST((SELECT MIN(ip) FROM ip) AS BIGINT)
                  AS est_join_size,
                ex.exact_join_size,
                (SELECT MIN(ip) FROM ip) >= ex.exact_join_size
                  AS never_under
         FROM ex""",

    // same salted-md5 cells; estimate = min over the key's 4 cells
    "q_cms_topk" ->
      """WITH keys AS (SELECT user_id, COUNT(*) AS true_c
                       FROM events GROUP BY 1),
         pairs AS (SELECT k.user_id, s.seed,
                          ('0x' || substr(md5(s.seed::VARCHAR || ':' ||
                            k.user_id::VARCHAR), 1, 8))::BIGINT % 256
                            AS bucket
                   FROM keys k, (SELECT unnest(range(4)) AS seed) s),
         cells AS (SELECT p.seed, p.bucket, SUM(k.true_c) AS c
                   FROM pairs p JOIN keys k USING (user_id)
                   GROUP BY 1, 2),
         est AS (SELECT p.user_id, MIN(c.c) AS est
                 FROM pairs p JOIN cells c USING (seed, bucket)
                 GROUP BY 1)
         SELECT e.user_id, CAST(e.est AS BIGINT) AS est, k.true_c
         FROM est e JOIN keys k USING (user_id)
         ORDER BY e.est DESC, e.user_id LIMIT 25""",

    // textbook NOT EXISTS dominance over (size, integer-cent price)
    "q_skyline" ->
      """WITH pts AS (SELECT p_partkey, p_size,
                             CAST(CAST(p_retailprice AS DECIMAL(18,2))
                               * 100 AS BIGINT) AS price_c
                      FROM part)
         SELECT p.p_partkey, p.p_size, p.price_c FROM pts p
         WHERE NOT EXISTS (
           SELECT 1 FROM pts q
           WHERE q.p_size <= p.p_size AND q.price_c <= p.price_c
             AND (q.p_size < p.p_size OR q.price_c < p.price_c))
         ORDER BY p_partkey""",

    "q_concurrency_peak" ->
      """WITH b AS (
           SELECT o_orderpriority AS pri, o_orderdate AS ts, 1 AS d
           FROM orders
           UNION ALL
           SELECT o_orderpriority, o_orderdate + INTERVAL 30 DAY, -1
           FROM orders),
         n AS (SELECT pri, ts, SUM(d) AS delta FROM b GROUP BY pri, ts),
         r AS (SELECT pri, ts,
                 SUM(delta) OVER (PARTITION BY pri ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
               FROM n),
         m AS (SELECT pri, MAX(running) AS peak FROM r GROUP BY pri)
         SELECT r.pri, CAST(m.peak AS BIGINT) AS peak,
                MIN(r.ts) AS peak_ts
         FROM r JOIN m ON r.pri = m.pri AND r.running = m.peak
         GROUP BY r.pri, m.peak""",

    "q_sliding_window" ->
      """SELECT window_start, event_type, COUNT(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM (SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR
                        AS window_start,
                      event_type, value, ts
               FROM events CROSS JOIN range(2) r(k))
         WHERE ts >= window_start
           AND ts < window_start + INTERVAL 2 HOUR
         GROUP BY window_start, event_type""",

    // integer-guarded extraction: a hard ::INT on json_extract_string
    // ERRORS the whole oracle on non-numeric payloads and silently
    // coerces quoted/"1.5" values where Spark's typed parse yields
    // NULL — extract the RAW json and cast only integer literals
    "q_json_props" ->
      """SELECT event_id,
                CASE WHEN json_extract(props, '$.k')::VARCHAR
                       SIMILAR TO '-?[0-9]+'
                     THEN json_extract(props, '$.k')::VARCHAR::INT
                END AS k_val
         FROM events""",

    "q_json_variant" ->
      """SELECT event_id,
                CASE WHEN json_extract(props, '$.k')::VARCHAR
                       SIMILAR TO '-?[0-9]+'
                     THEN json_extract(props, '$.k')::VARCHAR::BIGINT
                END AS k_val,
                CASE WHEN json_extract(props, '$.absent')::VARCHAR
                       SIMILAR TO '-?[0-9]+'
                     THEN json_extract(props, '$.absent')::VARCHAR::BIGINT
                END AS absent_val
         FROM events""",

    "q_k_anonymity" ->
      """WITH t0 AS (SELECT c_custkey, c_nationkey, c_mktsegment,
                            CAST(floor(c_acctbal / 500) AS BIGINT)
                              AS bal_bucket
                     FROM customer),
         g AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey,
                 c_mktsegment, bal_bucket) AS grp_n FROM t0)
         SELECT c_custkey,
                CASE WHEN grp_n < 5 THEN '*'
                     ELSE CAST(c_nationkey AS VARCHAR) END
                  AS c_nationkey,
                CASE WHEN grp_n < 5 THEN '*'
                     ELSE c_mktsegment END AS c_mktsegment,
                CASE WHEN grp_n < 5 THEN '*'
                     ELSE CAST(bal_bucket AS VARCHAR) END AS bal_bucket,
                grp_n < 5 AS suppressed,
                CAST(grp_n AS BIGINT) AS grp_n
         FROM g""",

    "q_l_diversity" ->
      """WITH t0 AS (SELECT c_custkey, c_nationkey,
                            CAST(floor(c_acctbal / 500) AS BIGINT)
                              AS bal_bucket,
                            c_mktsegment
                     FROM customer),
         dv AS (SELECT c_nationkey, bal_bucket,
                       COUNT(DISTINCT c_mktsegment) AS sens_diversity
                FROM t0 GROUP BY c_nationkey, bal_bucket)
         SELECT t0.c_custkey, t0.c_nationkey, t0.bal_bucket,
                CASE WHEN dv.sens_diversity < 3 THEN '*'
                     ELSE t0.c_mktsegment END AS c_mktsegment,
                dv.sens_diversity < 3 AS at_risk,
                CAST(dv.sens_diversity AS BIGINT) AS sens_diversity
         FROM t0 JOIN dv USING (c_nationkey, bal_bucket)""",

    // Mirrors ops.baskets.associationRules: distinct incidence, basket
    // self-join pair supports (a < b), min-support cut, both rule
    // directions, micros snapped straight from the counts.
    "q_assoc_rules" ->
      """WITH inc AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS i
                      FROM lineitem),
         sup AS (SELECT i, count(*) AS sup FROM inc GROUP BY i),
         n AS (SELECT count(DISTINCT k) AS n FROM inc),
         p AS (SELECT a.i AS a, b.i AS b, count(*) AS ps
               FROM inc a JOIN inc b ON a.k = b.k AND a.i < b.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         r AS (SELECT a AS ante, b AS cons, ps FROM p
               UNION ALL SELECT b, a, ps FROM p)
         SELECT r.ante, r.cons, r.ps AS pair_support,
                round(1000000.0 * r.ps / sa.sup)::BIGINT AS conf_micro,
                round(1000000.0 * r.ps * n.n
                      / (sa.sup * sc.sup))::BIGINT AS lift_micro
         FROM r JOIN sup sa ON r.ante = sa.i
                JOIN sup sc ON r.cons = sc.i
                CROSS JOIN n
         ORDER BY lift_micro DESC, ante, cons LIMIT 50""",

    // distinct-value blocks clipped against the kept rank window
    "q_trimmed_mean" ->
      """WITH c AS (SELECT event_type AS g,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) AS v
                    FROM events),
         blk AS (SELECT g, v, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
         pre AS (SELECT g, v, cnt,
                        COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS cum,
                        SUM(cnt) OVER (PARTITION BY g) AS n
                 FROM blk),
         k AS (SELECT *, (n * 10) // 100 AS klo, n - (n * 10) // 100
                 AS khi FROM pre),
         kept AS (SELECT g,
                         GREATEST(0, LEAST(cum + cnt, khi)
                           - GREATEST(cum, klo)) AS kp,
                         v, khi - klo AS m
                  FROM k)
         SELECT g, CAST(MAX(m) AS BIGINT) AS n_kept,
                CAST((SUM(kp * v) * 1000000) // MAX(m) AS BIGINT)
                  AS tmean_micro
         FROM kept GROUP BY g HAVING MAX(m) > 0
         ORDER BY g""",

    // decile buckets of the cent-quantized score; rates in floor micros
    "q_calibration" ->
      """WITH c AS (SELECT LEAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) // 1000, 9) AS bin,
                           CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END AS pos,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) AS v_c
                    FROM events)
         SELECT bin, COUNT(*) AS n,
                CAST(SUM(pos) AS BIGINT) AS n_pos,
                CAST((SUM(pos) * 1000000) // COUNT(*) AS BIGINT)
                  AS rate_micro,
                CAST((SUM(v_c) * 10000) // COUNT(*) AS BIGINT)
                  AS mean_score_micro
         FROM c GROUP BY bin ORDER BY bin""",

    // rank-sum identity on distinct-score tie blocks; 2R⁺ stays integer
    "q_auc_rank" ->
      """WITH sc AS (
           SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS s,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS pos
           FROM events),
         blk AS (SELECT s, COUNT(*) AS cnt, SUM(pos) AS pos
                 FROM sc GROUP BY 1),
         pre AS (SELECT s, cnt, pos,
                        COALESCE(SUM(cnt) OVER (ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS cum
                 FROM blk),
         agg AS (SELECT SUM(pos * (2 * cum + cnt + 1)) AS r2,
                        SUM(pos) AS p, SUM(cnt - pos) AS n
                 FROM pre)
         SELECT CAST(p AS BIGINT) AS p, CAST(n AS BIGINT) AS n,
                CAST(((r2 - p * (p + 1)) * 1000000) // (2 * p * n)
                  AS BIGINT) AS auc_micro
         FROM agg""",

    // first/last extrema per (user, type) via two row_numbers; pair join
    // on the user key; floor-div micros over distinct-user count
    "q_seq_patterns" ->
      """WITH ord AS (
           SELECT user_id AS k, event_type AS typ, ts, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rf,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rl
           FROM events),
         ext AS (SELECT k, typ,
                        MAX(CASE WHEN rf = 1 THEN ts END) AS f_ts,
                        MAX(CASE WHEN rf = 1 THEN event_id END) AS f_tie,
                        MAX(CASE WHEN rl = 1 THEN ts END) AS l_ts,
                        MAX(CASE WHEN rl = 1 THEN event_id END) AS l_tie
                 FROM ord GROUP BY 1, 2),
         tot AS (SELECT COUNT(DISTINCT k) AS n_tot FROM ext),
         p AS (SELECT a.typ AS from_type, b.typ AS to_type,
                      COUNT(*) AS n_seq
               FROM ext a JOIN ext b ON a.k = b.k AND a.typ <> b.typ
               WHERE a.f_ts < b.l_ts
                  OR (a.f_ts = b.l_ts AND a.f_tie < b.l_tie)
               GROUP BY 1, 2)
         SELECT from_type, to_type, n_seq,
                CAST((n_seq * 1000000) // n_tot AS BIGINT)
                  AS support_micro
         FROM p, tot
         ORDER BY from_type, to_type""",

    "q_data_card" ->
      """WITH t0 AS (
           SELECT doc_id, lang, source, COALESCE(text, '') AS tx,
                  CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN 0
                       ELSE COALESCE(CAST(len(string_split_regex(
                         trim(text), '\s+')) AS BIGINT), 0) END AS toks
           FROM documents),
         b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(toks) AS BIGINT) AS n_tokens,
                      CAST(SUM(length(tx)) AS BIGINT) AS n_chars,
                      CAST(COUNT(DISTINCT source) AS BIGINT)
                        AS n_sources,
                      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                      CAST(SUM(CASE WHEN length(tx) = 0 THEN 1
                               ELSE 0 END) AS BIGINT) AS n_empty,
                      CAST(COUNT(DISTINCT md5(tx)) AS BIGINT)
                        AS n_distinct_text
               FROM t0),
         ts AS (SELECT MAX(c) AS top_c FROM
                  (SELECT COUNT(*) AS c FROM t0 GROUP BY source)),
         q AS (SELECT quantile_cont(CAST(toks AS DOUBLE), 0.5) AS p50
               FROM t0)
         SELECT m.metric, m.value FROM b, ts, q,
           LATERAL (VALUES
             ('n_docs', CAST(n_docs AS DOUBLE)),
             ('n_tokens', CAST(n_tokens AS DOUBLE)),
             ('n_chars', CAST(n_chars AS DOUBLE)),
             ('n_sources', CAST(n_sources AS DOUBLE)),
             ('n_langs', CAST(n_langs AS DOUBLE)),
             ('empty_rate', round(CAST(n_empty AS DOUBLE) /
                CAST(n_docs AS DOUBLE), 6)),
             ('mean_doc_tokens', round(CAST(n_tokens AS DOUBLE) /
                CAST(n_docs AS DOUBLE), 6)),
             ('exact_dup_rate', round(1.0 -
                CAST(n_distinct_text AS DOUBLE) /
                CAST(n_docs AS DOUBLE), 6)),
             ('p50_doc_tokens', round(p50, 4)),
             ('top_source_share', round(CAST(top_c AS DOUBLE) /
                CAST(n_docs AS DOUBLE), 6))) AS m(metric, value)""",

    // identical closed-form OLS over the same exact integer moment
    // sums (x days, y cents); all casts to DOUBLE mirror the Spark
    // side so the one division is bit-identical
    "q_trend" ->
      """WITH t0 AS (
           SELECT l_suppkey,
                  CAST(datediff('day', DATE '1992-01-01',
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS x,
                  CAST(round(l_quantity * 100) AS BIGINT) AS yc
           FROM lineitem
           -- null x/y rows are dropped like groupTrend's filter, so n
           -- counts exactly the rows the moment sums cover
           WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL),
         m AS (SELECT l_suppkey,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(x) AS DOUBLE) AS sx,
                      CAST(SUM(yc) AS DOUBLE) AS sy,
                      CAST(SUM(x * yc) AS DOUBLE) AS sxy,
                      CAST(SUM(x * x) AS DOUBLE) AS sxx
               FROM t0 GROUP BY 1)
         SELECT l_suppkey, n,
                CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0.0
                  THEN round((CAST(n AS DOUBLE) * sxy - sx * sy) /
                    (CAST(n AS DOUBLE) * sxx - sx * sx) / 100.0, 6)
                END AS slope,
                CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0.0
                  THEN round((sy -
                    (CAST(n AS DOUBLE) * sxy - sx * sy) /
                      (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) /
                    CAST(n AS DOUBLE) / 100.0, 6)
                END AS intercept
         FROM m""",

    // same sorted-rank Gini over per-source whitespace token mass
    "q_gini_sources" ->
      """WITH w AS (
           SELECT source,
                  SUM(COALESCE(CAST(len(string_split_regex(trim(text),
                    '\s+')) AS BIGINT), 0)) AS tok
           FROM documents GROUP BY source),
         r AS (SELECT tok,
                      ROW_NUMBER() OVER (ORDER BY tok, source) AS i
               FROM w)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                CAST(SUM(tok) AS BIGINT) AS total_weight,
                round(2.0 * CAST(SUM(i * tok) AS DOUBLE) /
                  (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(tok) AS DOUBLE))
                  - (COUNT(*) + 1)::DOUBLE / COUNT(*)::DOUBLE, 6)
                  AS gini
         FROM r""",

    // identical left-assoc double expression per cell, micros summed
    // exactly; margin cross join materializes observed-zero cells
    "q_chi2_assoc" ->
      """WITH o AS (SELECT lang AS a, source AS b, COUNT(*) AS o
                    FROM documents GROUP BY 1, 2),
         rt AS (SELECT a, SUM(o) AS rt FROM o GROUP BY 1),
         ct AS (SELECT b, SUM(o) AS ct FROM o GROUP BY 1),
         nn AS (SELECT SUM(o) AS n FROM o),
         cells AS (SELECT rt.a, ct.b, COALESCE(o.o, 0) AS o,
                          rt.rt, ct.ct, nn.n
                   FROM rt CROSS JOIN ct CROSS JOIN nn
                   LEFT JOIN o ON o.a = rt.a AND o.b = ct.b),
         t AS (SELECT a, b, n,
                      CAST(round(((o - rt * ct * 1.0 / n) *
                        (o - rt * ct * 1.0 / n)) /
                        (rt * ct * 1.0 / n) * 1000000) AS BIGINT) AS tm
               FROM cells)
         SELECT CAST(SUM(tm) AS BIGINT) AS chi2_micro,
                (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
                  AS dof,
                CAST(MAX(n) AS BIGINT) AS n
         FROM t""",

    // mirrors ops.timeseries.decayedSum exactly: integer-micros age,
    // micro-snapped pow, cents × micros integer products summed in
    // exact arithmetic (DuckDB hugeint), one double division + 4dp
    "q_decayed_agg" ->
      """WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
         w AS (SELECT e.user_id,
                      CAST(round(e.value * 100) AS BIGINT) *
                        CAST(round(pow(2.0,
                          -((epoch_us(mx.tmax) - epoch_us(e.ts))
                             / 1000000.0) / 86400.0) * 1000000)
                          AS BIGINT) AS wv
               FROM events e, mx)
         SELECT user_id, COUNT(*)::BIGINT AS n_events,
                round(CAST(SUM(wv) AS DOUBLE) / 100000000.0 * 10000)
                  / 10000 AS decayed_value
         FROM w GROUP BY user_id""",

    "q_rank_norm" ->
      """SELECT doc_id, source, n_chars AS metric,
                round(percent_rank() OVER (PARTITION BY source
                  ORDER BY n_chars, doc_id), 6) AS pct,
                round(percent_rank() OVER (PARTITION BY source
                  ORDER BY n_chars, doc_id), 6) >= 0.75 AS keep
         FROM documents""",

    "q_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  COUNT(*) AS cnt,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    AS sum_value
           FROM events GROUP BY 1, 2),
         spans AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
                   FROM daily GROUP BY 1),
         cal AS (SELECT user_id,
                        CAST(unnest(generate_series(lo::TIMESTAMP,
                          hi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
                 FROM spans)
         SELECT c.user_id, c.day, COALESCE(d.cnt, 0) AS cnt,
                COALESCE(d.sum_value, 0.0) AS sum_value
         FROM cal c LEFT JOIN daily d
           ON c.user_id = d.user_id AND c.day = d.day""",

    "q_window_percent" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_returnflag,
                round(percent_rank() OVER w, 6) AS pr,
                round(cume_dist() OVER w, 6) AS cd,
                nth_value(l_extendedprice, 3) OVER w AS third_price
         FROM lineitem
         WINDOW w AS (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice, l_orderkey,
                               l_linenumber, l_partkey, l_suppkey)""",

    "q_ts_interpolate" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
           FROM events GROUP BY 1, 2),
         spans AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
                   FROM daily GROUP BY 1),
         cal AS (SELECT user_id,
                        CAST(unnest(generate_series(lo::TIMESTAMP,
                          hi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
                 FROM spans),
         dense AS (SELECT c.user_id, c.day, d.v
                   FROM cal c LEFT JOIN daily d
                     ON c.user_id = d.user_id AND c.day = d.day),
         w AS (SELECT user_id, day, v,
           last_value(v IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
           last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
           first_value(v IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
           first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
           FROM dense)
         SELECT user_id, day,
                round(CASE WHEN v IS NOT NULL THEN v
                  WHEN prev_v IS NULL THEN next_v
                  WHEN next_v IS NULL THEN prev_v
                  ELSE prev_v + (next_v - prev_v)
                       * date_diff('day', prev_d, day)
                       / date_diff('day', prev_d, next_d) END, 6) AS v
         FROM w""",

    "q_ts_moving" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  COUNT(*) AS cnt,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    AS sum_value
           FROM events GROUP BY 1, 2),
         spans AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
                   FROM daily GROUP BY 1),
         cal AS (SELECT user_id,
                        CAST(unnest(generate_series(lo::TIMESTAMP,
                          hi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
                 FROM spans),
         dense AS (SELECT c.user_id, c.day,
                          COALESCE(d.cnt, 0) AS cnt,
                          COALESCE(d.sum_value, 0.0) AS sum_value
                   FROM cal c LEFT JOIN daily d
                     ON c.user_id = d.user_id AND c.day = d.day)
         SELECT user_id, day,
                CAST(SUM(cnt) OVER w7 AS BIGINT) AS cnt_7d,
                CAST(SUM(CAST(sum_value AS DECIMAL(18,2))) OVER w7
                  AS DOUBLE) AS sum_7d,
                MAX(sum_value) OVER w7 AS max_7d
         FROM dense
         WINDOW w7 AS (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",

    "q_funnel" ->
      """WITH s0 AS (SELECT user_id, MIN(ts) AS prev FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s1 AS (SELECT e.user_id, MIN(e.ts) AS prev
                FROM events e JOIN s0 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s0.prev
                GROUP BY 1),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS prev
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s1.prev
                GROUP BY 1)
         SELECT 0 AS stage_idx, 'view' AS stage,
                CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
           HAVING COUNT(*) > 0
         UNION ALL SELECT 1, 'click', CAST(COUNT(*) AS BIGINT) FROM s1
           HAVING COUNT(*) > 0
         UNION ALL SELECT 2, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s2
           HAVING COUNT(*) > 0""",

    "q_cohort" ->
      """WITH activity AS (
           SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
         coh AS (SELECT user_id, MIN(day) AS cohort_day
                 FROM activity GROUP BY 1)
         SELECT cohort_day,
                CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
                CAST(COUNT(*) AS BIGINT) AS n_users
         FROM activity JOIN coh USING (user_id)
         GROUP BY 1, 2""",

    "q_scd2" ->
      """WITH ordered AS (
           SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
                  lag(o_orderpriority) OVER w AS prev_attr,
                  lag(1) OVER w AS prev_marker
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey)),
         -- null-safe change detection like the Spark side: the lag'd
         -- constant marks the true first row, and IS DISTINCT FROM
         -- treats value<->NULL transitions as real change points
         changes AS (SELECT * FROM ordered
                     WHERE prev_marker IS NULL
                        OR prev_attr IS DISTINCT FROM o_orderpriority)
         SELECT o_custkey, o_orderpriority,
                o_orderdate AS valid_from,
                lead(o_orderdate) OVER w AS valid_to,
                (lead(o_orderdate) OVER w IS NULL) AS is_current
         FROM changes
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)""",

    "q_profile" ->
      """SELECT 'l_quantity' AS col_name,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
                CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
                MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
                round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE) / COUNT(l_quantity), 6) AS avg_v
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
                CAST(COUNT(l_extendedprice) AS BIGINT),
                CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
                MIN(l_extendedprice), MAX(l_extendedprice),
                round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) / COUNT(l_extendedprice), 6)
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
                CAST(COUNT(l_discount) AS BIGINT),
                CAST(COUNT(DISTINCT l_discount) AS BIGINT),
                MIN(l_discount), MAX(l_discount),
                round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                  AS DOUBLE) / COUNT(l_discount), 6)
         FROM lineitem""",

    // exact stats + the sketch verdict: the oracle recomputes the exact
    // side and asserts the bounded-error boolean literally
    "q_profile_approx" ->
      """SELECT 'l_quantity' AS col_name,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
                CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
                MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
                round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE) / COUNT(l_quantity), 6) AS avg_v,
                TRUE AS nd_ok
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
                CAST(COUNT(l_extendedprice) AS BIGINT),
                CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
                MIN(l_extendedprice), MAX(l_extendedprice),
                round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) / COUNT(l_extendedprice), 6),
                TRUE
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
                CAST(COUNT(l_discount) AS BIGINT),
                CAST(COUNT(DISTINCT l_discount) AS BIGINT),
                MIN(l_discount), MAX(l_discount),
                round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                  AS DOUBLE) / COUNT(l_discount), 6),
                TRUE
         FROM lineitem""",

    // day − row_number constant within a run; ties → latest run
    "q_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
                         CAST(date_trunc('day', ts) AS DATE) AS day
                       FROM events),
         i AS (SELECT user_id, day,
                      day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY day) AS INT) AS grp
               FROM days),
         runs AS (SELECT user_id, grp, COUNT(*) AS len,
                         MIN(day) AS start_day
                  FROM i GROUP BY 1, 2),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY len DESC, start_day DESC) AS rk FROM runs)
         SELECT user_id, len AS best_len, start_day AS best_start
         FROM r WHERE rk = 1 ORDER BY user_id""",

    // lag(7) on the daily frame, gated to a true 7-day gap
    "q_pop" ->
      """WITH daily AS (SELECT event_type,
                          CAST(date_trunc('day', ts) AS DATE) AS day,
                          COUNT(*) AS cnt
                        FROM events GROUP BY 1, 2),
         l AS (SELECT *, LAG(cnt, 7) OVER w AS prev,
                      LAG(day, 7) OVER w AS prev_day
               FROM daily
               WINDOW w AS (PARTITION BY event_type ORDER BY day))
         SELECT event_type, day, cnt, prev,
                CAST(((cnt - prev) * 1000000) // prev AS BIGINT)
                  AS wow_micro
         FROM l
         WHERE prev IS NOT NULL AND day - prev_day = 7
         ORDER BY event_type, day""",

    // sketch bytes are engine-specific → exact count hashed, estimate
    // verdict asserted in-row (the q_hll_partitioned convention)
    "q_hll_at_rest" ->
      """SELECT count(DISTINCT user_id) AS exact_users, TRUE AS ok
         FROM events""",

    // the same jump-point evaluation: cumulative counts per distinct
    // value, cross-multiplied in HUGEINT, micro-units via //
    "q_ks_drift" ->
      """WITH vals AS (
           SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS a
           FROM events),
         pv AS (
           SELECT v, sum(a)::BIGINT AS c1,
                  sum(1 - a)::BIGINT AS c2
           FROM vals GROUP BY v),
         cums AS (
           SELECT sum(c1) OVER w::HUGEINT AS cum1,
                  sum(c2) OVER w::HUGEINT AS cum2
           FROM pv WINDOW w AS (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2
                 FROM pv),
         d AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) AS dmax, n1, n2
               FROM cums, tot GROUP BY n1, n2)
         SELECT n1, n2,
                CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                     ELSE CAST((dmax * 1000000) //
                       (n1::HUGEINT * n2) AS BIGINT) END AS d_micro
         FROM d""",

    // same jump-point cums; the step integral via lead(v) (the window
    // is fine HERE — DuckDB is the small-scale oracle, the engine uses
    // a rank self-join instead)
    "q_emd_drift" ->
      """WITH vals AS (
           SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS a
           FROM events),
         pv AS (
           SELECT v, sum(a)::BIGINT AS c1,
                  sum(1 - a)::BIGINT AS c2
           FROM vals GROUP BY v),
         cums AS (
           SELECT v, sum(c1) OVER w::HUGEINT AS cum1,
                  sum(c2) OVER w::HUGEINT AS cum2,
                  lead(v) OVER (ORDER BY v) AS vn
           FROM pv WINDOW w AS (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2
                 FROM pv),
         w AS (SELECT coalesce(sum(abs(cum1 * n2 - cum2 * n1)
                 * (vn - v)), 0)::HUGEINT AS w1
               FROM cums, tot WHERE vn IS NOT NULL)
         SELECT n1, n2,
                CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                     ELSE CAST((w1 * 1000000) //
                       (n1::HUGEINT * n2) AS BIGINT) END AS w1_micro
         FROM tot, w""",

    // exact rolling distinct + the verdict the sketch must satisfy
    "q_rolling_distinct" ->
      """WITH pairs AS (SELECT DISTINCT
                          CAST(date_trunc('day', ts) AS DATE) AS day,
                          user_id
                        FROM events),
         days AS (SELECT DISTINCT day FROM pairs)
         SELECT a.day AS day, COUNT(DISTINCT p.day) AS n_days,
                COUNT(DISTINCT p.user_id) AS exact_7d,
                TRUE AS est_ok
         FROM days a JOIN pairs p
           ON p.day BETWEEN a.day - 6 AND a.day
         GROUP BY 1 ORDER BY 1""",

    "q_histogram" ->
      """SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt,
                MIN(o_totalprice) AS min_price,
                MAX(o_totalprice) AS max_price,
                CAST(bin AS DOUBLE) * 25000 AS bin_lo
         FROM (SELECT CAST(floor(o_totalprice / 25000) AS INT) AS bin,
                      o_totalprice FROM orders)
         GROUP BY bin""",

    "q_outliers" ->
      """WITH t AS (
           SELECT event_id, event_type AS grp, value AS v
           FROM events WHERE value IS NOT NULL),
         med AS (
           SELECT grp, round(quantile_cont(v, 0.5), 4) AS m
           FROM t GROUP BY grp),
         dev AS (
           SELECT t.event_id, t.grp, t.v, med.m
           FROM t JOIN med USING (grp)),
         mad AS (
           SELECT grp, round(quantile_cont(abs(v - m), 0.5), 4) AS md
           FROM dev GROUP BY grp)
         SELECT event_id, grp AS event_type, v AS value,
                round(0.6745 * (v - m) / md, 4) AS robust_z
         FROM dev JOIN mad USING (grp)
         WHERE md <> 0
           AND abs(round(0.6745 * (v - m) / md, 4)) > 3.5""",

    // mirrors validateBy grouped on source: same metrics per group
    "q_expectations_by" ->
      """WITH m AS (
           SELECT source,
             round(count(*)::DOUBLE, 6) AS m0,
             round(avg(CASE WHEN text IS NOT NULL THEN 1.0::DOUBLE
               ELSE 0.0::DOUBLE END), 6) AS m1,
             round(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
               / count(n_chars), 6) AS m2
           FROM documents GROUP BY source)
         SELECT source, c."check", c.metric, c.lo, c.hi,
                COALESCE(c.metric >= c.lo AND c.metric <= c.hi,
                  FALSE) AS ok
         FROM m, LATERAL (VALUES
           ('doc_count', m0, 20.0::DOUBLE, 30.0::DOUBLE),
           ('text_complete', m1, 1.0::DOUBLE, 1.0::DOUBLE),
           ('mean_chars', m2, 100.0::DOUBLE, 600.0::DOUBLE))
           AS c("check", metric, lo, hi)""",

    // mirrors expectations.validate: same metric definitions (integer-
    // count ratios; decimal(18,2) sum cast to double before the divide),
    // 6dp rounding, [lo,hi] inclusive bands; literals cast to DOUBLE so
    // the hash compares float-to-float
    "q_expectations" ->
      """WITH m AS (
           SELECT
             round(count(DISTINCT o_orderkey)::DOUBLE /
               count(o_orderkey), 6) AS m0,
             round(avg(CASE WHEN o_custkey IS NOT NULL THEN 1.0::DOUBLE
               ELSE 0.0::DOUBLE END), 6) AS m1,
             round(avg(CASE WHEN o_orderstatus IS NULL THEN NULL
               WHEN o_orderstatus IN ('F','O','P') THEN 1.0::DOUBLE
               ELSE 0.0::DOUBLE END), 6) AS m2,
             round(avg(CASE WHEN o_orderpriority IS NULL THEN NULL
               WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
               THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END), 6) AS m3,
             round(min(o_totalprice), 6) AS m4,
             round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DOUBLE) / count(o_totalprice), 6) AS m5
           FROM orders)
         SELECT c."check", c.metric, c.lo, c.hi,
                COALESCE(c.metric >= c.lo AND c.metric <= c.hi,
                  FALSE) AS ok
         FROM m, LATERAL (VALUES
           ('o_orderkey_unique', m0, 1.0::DOUBLE, 1.0::DOUBLE),
           ('o_custkey_complete', m1, 1.0::DOUBLE, 1.0::DOUBLE),
           ('o_orderstatus_domain', m2, 1.0::DOUBLE, 1.0::DOUBLE),
           ('o_orderpriority_format', m3, 1.0::DOUBLE, 1.0::DOUBLE),
           ('o_totalprice_min', m4, 0.0::DOUBLE, 1e9::DOUBLE),
           ('o_totalprice_mean', m5, 200000.0::DOUBLE, 300000.0::DOUBLE))
           AS c("check", metric, lo, hi)""",
  )
}
