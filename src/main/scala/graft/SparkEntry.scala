package graft

import graft.ArtifactStore.scratch
import graft.Staging._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{exprs, relational, windows}
import graft.pipelines.Pipelines

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, each with an ANSI-SQL oracle twin (DuckDB) in
  * [[SparkEntry.oracleSql]]. Column names are aligned between the two on
  * purpose: the driver's compare sorts columns by name before hashing.
  *
  * Determinism rules used throughout (SURVEY.md §5, §7 "hard parts"):
  * deterministic ids via md5 (M7), double aggregates routed through
  * `decimal(18,2)` so Spark's and DuckDB's summation order can't diverge,
  * explicit tie-broken ordering before any limit.
  */
object SparkEntry {
  import Tables.t

  /** Flagship query on sf=0.001 — the E2 "season backfill" pipeline
    * (SURVEY.md §3) re-expressed as one declarative Spark job. */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.e2SeasonPipeline(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    parityQueries ++ ExtensionQueries.queries

  def oracleSql: Map[String, String] =
    parityOracleSql ++ ExtensionQueries.oracleSql

  private def parityQueries
  : Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 projections -------------------------------------------------
    "q_p2_rename_positional" -> ((s, d) =>
      relational.renameAll(t(s, d, "nation"),
        Seq("nation_key", "nation_name", "region_key"))),

    "q_p4_positional_select" -> ((s, d) =>
      relational.selectPositional(t(s, d, "customer"), 1, 2)),

    "q_p5_lit_drop" -> ((s, d) =>
      t(s, d, "part")
        .drop("p_retailprice", "p_size")
        .withColumn("ingest_source", lit("staged"))),

    // ---- §2.3 filters -----------------------------------------------------
    "q_f_filters" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate").isNotNull)                       // F1
        .filter(col("l_returnflag") =!= "N")                       // F2
        .filter(col("l_shipdate") > "1997-06-01" ||
                col("l_linestatus") =!= "F")                       // F6
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    "q_f4_numeric_parse" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("g_raw",
          when(col("p_partkey") % 3 === 0, col("p_size").cast("string"))
            .otherwise(col("p_name")))
        .filter(col("g_raw").try_cast("int").isNotNull)            // F4/F5
        .select(col("p_partkey"), col("g_raw").try_cast("int").as("g"))),

    // ---- §2.4 joins -------------------------------------------------------
    "q_j1_j2_lookup_override" -> ((s, d) => {
      val dim = relational.lookupJoin(
        t(s, d, "nation").withColumnRenamed("n_nationkey", "s_nationkey"),
        t(s, d, "region").withColumnRenamed("r_regionkey", "n_regionkey"),
        "n_regionkey")
        .select(col("s_nationkey"), col("n_name"), col("r_name"),
          upper(substring(col("n_name"), 1, 3)).as("abbrev"))
      val joined = relational.lookupJoin(
        relational.lookupJoin(t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_suppkey").as("s_suppkey"), col("l_shipdate")),
          t(s, d, "supplier").select("s_suppkey", "s_nationkey"), "s_suppkey"),
        dim, "s_nationkey")
      relational.overrideWhen(joined, "abbrev",
        col("n_name") === "FRANCE" && col("l_shipdate") < "1997-01-01",
        lit("FRA-LEGACY"))                                         // J2
        .select("l_orderkey", "l_linenumber", "n_name", "r_name", "abbrev")
    }),

    "q_j4_m8_date_flag" -> ((s, d) => {
      val dim = t(s, d, "orders")
        .select(year(col("o_orderdate")).as("season"))
        .distinct()
        .withColumn("cutoff",
          to_timestamp(concat(col("season").cast("string"), lit("-07-01"))))
      t(s, d, "orders")
        .withColumn("season", year(col("o_orderdate")))
        .join(broadcast(dim), "season")                            // J4
        .select(col("o_orderkey"), col("season"),
          exprs.boolFlag(col("o_orderdate") < col("cutoff"))
            .as("is_first_half"))                                  // M8
    }),

    "q_semi_join" -> ((s, d) =>
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_totalprice") > 200000)
          .withColumnRenamed("o_custkey", "c_custkey"),
        Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    "q_anti_join" -> ((s, d) =>
      t(s, d, "customer").join(
        t(s, d, "orders").withColumnRenamed("o_custkey", "c_custkey"),
        Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // ---- §2.5 set ops / aggregation --------------------------------------
    "q_a1_union_missing" -> ((s, d) =>
      relational.unionAll(Seq(
        t(s, d, "customer").select(
          col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          col("c_nationkey").as("nationkey"),
          col("c_mktsegment").as("mktsegment"),
          lit("customer").as("entity")),
        t(s, d, "supplier").select(
          col("s_name").as("name"), col("s_acctbal").as("acctbal"),
          col("s_nationkey").as("nationkey"),
          lit("supplier").as("entity"))))),

    "q_a2_distinct" -> ((s, d) =>
      t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    "q_agg_q1" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= "1999-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt"))),

    // ---- §2.6 sort/limit + §2.7 id gen ------------------------------------
    "q_o1_m7_sort_id" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_orderdate"), col("o_orderkey"))             // O1
        .select(col("o_orderkey"), col("o_orderdate"),
          exprs.detId(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd")).as("game_id"))),

    "q_o3_topk" -> ((s, d) =>
      relational.topK(t(s, d, "orders"), 25,
        col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")),

    // ---- §2.7 scalar functions --------------------------------------------
    "q_m1_m3_clock_score" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("clock",
          concat_ws(":", col("l_linenumber").cast("string"),
            lpad((col("l_partkey") % 60).cast("string"), 2, "0")))
        .withColumn("score",
          concat_ws("-", (col("l_partkey") % 150).cast("string"),
            (col("l_suppkey") % 150).cast("string")))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          exprs.clockToSeconds(col("clock")).as("secs"),            // M1
          exprs.parseScore(col("score")).getField("away").as("away_pt"),
          exprs.parseScore(col("score")).getField("home").as("home_pt"))),

    "q_m6_classify" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("g_raw",
          when(col("p_partkey") % 4 === 0, col("p_size").cast("string"))
            .otherwise(col("p_type")))
        .withColumn("role",
          when(col("p_partkey") % 7 === 0, lit("Player Development"))
            .otherwise(concat(col("p_brand"), lit(" Coach pro"))))
        .select(col("p_partkey"),
          exprs.classifyCoach(col("g_raw"), col("role"),
            "Player Development").as("coach_type"))),

    "q_m9_nullout" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("ev_away", col("l_returnflag"))
        .withColumn("pt_away",
          when(col("l_linenumber") % 2 === 0, col("l_returnflag"))
            .otherwise(col("l_linestatus")))
        .select(col("l_orderkey"), col("l_linenumber"),
          exprs.nullOutWhen(col("ev_away"),
            col("ev_away") === col("pt_away") || col("pt_away").isNull)
            .as("ev_away_clean"))),

    // ---- §2.8 stateful windows --------------------------------------------
    "q_w1_running_counter" -> ((s, d) => {
      val w = windows.running(Seq(col("l_orderkey")),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        windows.runningCounter(col("l_quantity") > 25, w).as("period"))
    }),

    "q_w2_forward_fill" -> ((s, d) => {
      val w = windows.running(Seq(col("l_orderkey")),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
      t(s, d, "lineitem")
        .withColumn("parsed",
          when(col("l_linenumber") % 2 === 1, col("l_extendedprice")))
        .select(col("l_orderkey"), col("l_linenumber"),
          windows.forwardFill(col("parsed"), w, lit(0.0)).as("filled"))
    }),

    "q_w3_marker_fill" -> ((s, d) => {
      val w = windows.running(Seq(col("l_orderkey")),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
      t(s, d, "lineitem")
        .withColumn("marker",
          when(col("l_linenumber") === 1, 1)
            .when(col("l_quantity") > 45, 0))
        .select(col("l_orderkey"), col("l_linenumber"),
          windows.markerFill(col("marker"), w, lit(1)).as("is_starter"))
    }),

    // ---- §3 pipelines ------------------------------------------------------
    "q_e1_pipeline" -> ((s, d) => Pipelines.e1FullLoadPipeline(s, d)),
    "q_e2_pipeline" -> ((s, d) => Pipelines.e2SeasonPipeline(s, d)),
    "q_e3_pipeline" -> ((s, d) => Pipelines.e3DetailPipeline(s, d)),

    // ---- analytics layer (§2.5 note: the absent dbt/BQ stage) -------------
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .filter(col("rn") <= 3)
    }),

    // distribution analytics: quartile assignment + cumulative position
    // (the unique tie-break makes every row its own peer group, so
    // cume_dist/percent_rank are engine-exact)
    "q_window_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cd"),
        round(percent_rank().over(w), 6).as("pr"))
    }),

    "q_agg_rollup" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("season", year(col("o_orderdate")))
        .rollup("season", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))),

    "q_agg_distinct_counts" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))),

    // HLL++ sketch vs exact, reduced to a bounded-error verdict: the
    // sketch value itself is engine-specific, but |approx-exact|/exact
    // <= 5% is a portable contract the DuckDB twin can assert (default
    // relativeSD 0.05 — the bound IS the sketch's configured guarantee)
    "q_approx_count_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(0.05)).as("ok"))),

    // bounded-memory top-k tokens via the SpaceSaving sketch Aggregator
    // (functions.HeavyHitters) — the mergeable-summary twin of
    // q_heavy_hitters' exact two-level agg. The raw tail is
    // partitioning-dependent under eviction, so the query emits the
    // sketch's portable GUARANTEES as a verdict instead: every reported
    // estimate brackets its exact count (exact <= est <= exact + err),
    // and the true top-5 tokens all surface in the reported top-10.
    "q_approx_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      // spread the one-row-group scan first: the sketch is mergeable, so
      // the partial phase (tokenize + per-partition SpaceSaving) is the
      // parallel part and the merge is 32 tiny summaries
      val toks = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(graft.text.Text.tokens(col("text"))).as("tok"))
      val sketch = toks
        .as[String]
        .select(graft.functions.HeavyHitters.topK(capacity = 256, k = 10)
          .toColumn)
        .toDF("hitters")
        .select(explode(col("hitters")).as("h"))
        .select(col("h.item").as("tok"), col("h.count").as("est"),
          col("h.err").as("err"))
      // vocabulary-sized (≪ token stream) and read twice (bounds join +
      // true-top-5) — pin it so the tokenize+count runs once
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .stage()
      val bounds = sketch.join(exact, Seq("tok"), "left")
        .agg(count(lit(1)).as("n_reported"),
          (sum(when(col("cnt") <= col("est") &&
            col("est") - col("err") <= col("cnt"), 0).otherwise(1)) === 0)
            .as("bounds_ok"))
      val top5 = exact
        .orderBy(col("cnt").desc, col("tok").asc).limit(5).select("tok")
      val cover = top5.join(sketch, Seq("tok"), "left_semi")
        .agg((count(lit(1)) === 5).as("contains_top5"))
      bounds.crossJoin(cover)
    }),

    // sketch twin of q_agg_percentile: single-pass mergeable KLL-style
    // summary — the 100 TB default where the exact sort-based aggregate
    // is the small-data/audit path. Sketch internals are engine-specific,
    // so the output carries the EXACT percentiles (oracle-comparable)
    // plus a verdict that the sketch landed within 5% of each — far
    // looser than the accuracy-10000 rank guarantee, so a pass is stable
    // and a fail means the sketch is genuinely broken.
    "q_approx_percentile" -> ((s, d) => {
      val approx = t(s, d, "lineitem").groupBy("l_returnflag").agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000))
          .as("a90"))
      val exact = ExtensionQueries.sharedExactPct(s, d)
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"),
          (abs(col("a50") - col("p50")) <= abs(col("p50")) * lit(0.05) &&
            abs(col("a90") - col("p90")) <= abs(col("p90")) * lit(0.05))
            .as("ok"))
    }),

    "q_pivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("season", year(col("l_shipdate")))
        .groupBy("season")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))),

    "q_agg_cube" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("season", year(col("o_orderdate")))
        .cube("season", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))),

    // SURVEY §3 planned analytic path: DataFrame → temp view → spark.sql —
    // the engine's SQL front door (Catalyst lifecycle end to end)
    "q_sql_grouping_sets" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT year(o_orderdate) AS season, o_orderpriority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((season), (o_orderpriority),
                                (season, o_orderpriority))""")
    }),

    // set ops: INTERSECT/EXCEPT (set semantics — Catalyst plans both as
    // aggregated joins, so they scale like any other shuffle join)
    "q_set_ops" -> ((s, d) => {
      val withOrders = t(s, d, "orders")
        .select(col("o_custkey").as("c_custkey")).distinct()
      val highBal = t(s, d, "customer")
        .filter(col("c_acctbal") > 5000).select("c_custkey")
      withOrders.intersect(highBal).withColumn("src", lit("both"))
        .unionByName(highBal.except(withOrders)
          .withColumn("src", lit("only_high_bal")))
    }),

    // unpivot/melt: wide metric columns → (metric, value) rows
    "q_unpivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          "metric", "value")
        .groupBy("l_returnflag", "metric")
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total"))),

    "q_full_outer_join" -> ((s, d) => {
      val a = t(s, d, "nation").filter(col("n_nationkey") < 15)
        .select(col("n_nationkey").as("k"), col("n_name").as("name_a"))
      val b = t(s, d, "nation").filter(col("n_nationkey") >= 10)
        .select(col("n_nationkey").as("k"),
          col("n_regionkey").as("region_b"))
      a.join(b, Seq("k"), "full_outer")
        .select(col("k"), col("name_a"), col("region_b"))
    }),

    // statistical aggregates; rounded to 4 decimals on both engines —
    // corr/stddev accumulate in double, so the last bits are
    // merge-order-dependent
    "q_agg_stats" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qe"),
        round(stddev_samp(col("l_discount")), 4).as("sd_disc"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4)
          .as("cov_qd"))),

    // exact percentiles via the spillable sort-based formulation
    // (ops.quantiles) — the built-in percentile() buffers whole groups in
    // executor memory; this one survives arbitrarily large groups. The
    // sketch-based approx_percentile is the cheap 100 TB path, exercised
    // rows-only like HLL
    "q_agg_percentile" -> ((s, d) =>
      ExtensionQueries.sharedExactPct(s, d)
        .select(col("l_returnflag"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"))),

    // RANGE window frame: value-based (30-day) moving sum, not row-count
    // based — frame membership is by order-key distance, so ties and gaps
    // behave identically on any row layout
    "q_window_range_frame" -> ((s, d) => {
      val days = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, 0)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("sum_30d"))
    }),

    // null-safe equality (<=>): null keys join to null keys instead of
    // dropping — needed when the join key itself is a data value
    "q_null_safe_join" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", null)
          .otherwise(col("o_orderpriority")).as("prio"))
      val dim = t(s, d, "orders").select(
        when(col("o_orderpriority") === "1-URGENT", null)
          .otherwise(col("o_orderpriority")).as("prio"))
        .distinct()
        .withColumn("prio_rank",
          // try_cast like the twin's TRY_CAST: a non-digit priority
          // prefix must rank 0, not raise ANSI CAST_INVALID_INPUT
          coalesce(substring(col("prio"), 1, 1).try_cast("int"), lit(0)))
      o.join(dim, o("prio") <=> dim("prio"))
        .groupBy("prio_rank")
        .agg(count(lit(1)).as("cnt"))
    }),

    // array-valued aggregation: collect_set is unordered by contract, so
    // deterministic output requires the explicit array_sort; joined to a
    // scalar string because the driver's comparator can't hash arrays
    "q_agg_collect" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
        array_join(array_sort(collect_set(year(col("l_shipdate"))
          .cast("int"))).cast("array<string>"), ",").as("ship_years"),
        size(collect_set(col("l_suppkey"))).as("n_suppliers"))),

    // SQL front door at realistic analytic complexity (TPC-H Q3 shape):
    // 3-way join + filter + agg + top-k, all through spark.sql — the
    // "BigQuery external table" usage pattern end to end
    "q_sql_q3" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               o_orderdate
        FROM customer_v
        JOIN orders_v ON c_custkey = o_custkey
        JOIN lineitem_v ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE '1995-03-15'
          AND l_shipdate > DATE '1995-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10""")
    }),

    // CDC-style latest-wins upsert: a re-scraped subset (version 2)
    // supersedes the base rows — the reference's catchup-rerun semantic
    // as one operator
    "q_upsert_latest" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("version", lit(1))
      val updates = t(s, d, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
        .withColumn("version", lit(2))
      graft.ops.relational.upsertLatest(base, updates,
        Seq("o_orderkey"), "version")
    }),

    // dataset integrity stamp: order/partitioning-independent content
    // hash over the documents table's canonical projection
    "q_dataset_fingerprint" -> ((s, d) =>
      graft.ops.relational.datasetFingerprint(
        t(s, d, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),

    // incremental rollup maintenance: the merged (base ⊎ delta) summary
    // must equal a from-scratch aggregate over the full table — which is
    // exactly what the oracle computes
    "q_incremental_agg" -> ((s, d) => {
      def summary(df: DataFrame) = df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("sum_price_dec"))
      val ord = t(s, d, "orders")
      graft.ops.relational.incrementalAgg(
        summary(ord.filter(col("o_orderkey") % 5 =!= 0)),
        summary(ord.filter(col("o_orderkey") % 5 === 0)),
        Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_price_dec").cast("double").as("sum_price"))
    }),

    // mergeable distinct-count sketches: per-month HLL sketches union
    // into the global estimate — the incremental path for COUNT(DISTINCT)
    // over a 100 TB history (sketches persist per partition; a new month
    // merges in O(sketch), no rescan). The sketch bytes are
    // engine-specific, so the output is the exact count plus a
    // bounded-error verdict (lgK=12 → ~1.6% rel. std. err; 5% bound)
    "q_hll_partitioned" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val sketches = ev
        .groupBy(date_trunc("month", col("ts")).as("m"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val est = sketches
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("est_users"))
      val exact = ev.agg(countDistinct(col("user_id")).as("exact_users"))
      est.crossJoin(exact)
        .select(col("exact_users"),
          (abs(col("est_users") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("ok"))
    }),

    // what did this batch do: added / removed / changed / unchanged per
    // key across two deterministic snapshot slices of orders
    "q_snapshot_diff" -> ((s, d) => {
      val ord = t(s, d, "orders")
      val prev = ord.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val next = ord.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
      graft.ops.relational.snapshotDiff(prev, next, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
    }),

    // skew-mitigating salted join through the correctness gate: salts
    // spread each supplier key over 8 reducers; the groupBy collapses the
    // result back so it hash-matches the plain-join oracle
    "q_salted_join" -> ((s, d) => {
      val fact = t(s, d, "lineitem").select(col("l_suppkey"),
        col("l_quantity"))
      val dim = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.relational.saltedJoin(fact, dim, "l_suppkey", numSalts = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    }),

    // TPC-H Q5 shape: 5-way join + selective region/date filters through
    // the SQL front door — exercises Catalyst join ordering + broadcast
    // selection on a star-ish schema (plan guard in PlanSpec)
    "q_sql_q5" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      t(s, d, "region").createOrReplaceTempView("region_v")
      s.sql("""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM customer_v
        JOIN orders_v ON c_custkey = o_custkey
        JOIN lineitem_v ON l_orderkey = o_orderkey
        JOIN supplier_v ON l_suppkey = s_suppkey
        JOIN nation_v ON s_nationkey = n_nationkey
        JOIN region_v ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1997-01-01'
        GROUP BY n_name""")
    }),

    // TPC-H Q6 shape: pure filter + scalar aggregate — the all-pushdown
    // query (every predicate reaches the parquet scan, result is one row)
    "q_sql_q6" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem_v
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    }),

    // TPC-H Q7 shape: bidirectional nation-pair shipping volume — a
    // 6-way join where the same dim (nation) enters twice under
    // different roles, plus an OR over the two directions; exercises
    // self-dim aliasing and join reordering
    "q_sql_q7" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier_v
          JOIN lineitem_v ON s_suppkey = l_suppkey
          JOIN orders_v ON o_orderkey = l_orderkey
          JOIN customer_v ON c_custkey = o_custkey
          JOIN nation_v n1 ON s_nationkey = n1.n_nationkey
          JOIN nation_v n2 ON c_nationkey = n2.n_nationkey
          WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
            AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
            AND n1.n_name <> n2.n_name
            AND l_shipdate >= DATE '1996-01-01'
            AND l_shipdate < DATE '1998-01-01') shipping
        GROUP BY supp_nation, cust_nation, l_year""")
    }),

    // TPC-H Q8 shape: market share of one supplier nation inside a
    // customer region — 7-way join (nation twice, region once), then a
    // conditional-share aggregate per year
    "q_sql_q8" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      t(s, d, "region").createOrReplaceTempView("region_v")
      s.sql("""
        SELECT o_year,
               ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3'
                        THEN vol_dec ELSE CAST(0 AS DECIMAL(18,4)) END)
                   AS DOUBLE)
                 / CAST(SUM(vol_dec) AS DOUBLE), 6) AS mkt_share
        FROM (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(18,4)) AS vol_dec,
                 n2.n_name AS nation
          FROM part_v
          JOIN lineitem_v ON p_partkey = l_partkey
          JOIN supplier_v ON s_suppkey = l_suppkey
          JOIN orders_v ON l_orderkey = o_orderkey
          JOIN customer_v ON o_custkey = c_custkey
          JOIN nation_v n1 ON c_nationkey = n1.n_nationkey
          JOIN region_v ON n1.n_regionkey = r_regionkey
          JOIN nation_v n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= DATE '1996-01-01'
            AND o_orderdate < DATE '1998-01-01'
            AND p_type = 'PROMO') all_nations
        GROUP BY o_year""")
    }),

    // TPC-H Q13 shape: order-count distribution per customer — a LEFT
    // OUTER join with a predicate ON THE JOIN (not a post-filter), then
    // a two-level aggregate; customers with no qualifying orders count
    // as c_count = 0
    "q_sql_q13" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer_v LEFT OUTER JOIN orders_v
            ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count""")
    }),

    // TPC-H Q15 shape: top-revenue supplier via a scalar subquery over a
    // CTE the outer query also reads — exact decimal equality against
    // the max, so ties surface instead of being dropped
    "q_sql_q15" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(18,4))) AS total_rev
          FROM lineitem_v
          WHERE l_shipdate >= DATE '1996-01-01'
            AND l_shipdate < DATE '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, CAST(total_rev AS DOUBLE) AS total_revenue
        FROM supplier_v JOIN revenue ON s_suppkey = supplier_no
        WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)""")
    }),

    // TPC-H Q17 shape: small-quantity revenue against a CORRELATED
    // scalar subquery (per-part average) — Catalyst must decorrelate to
    // an aggregate + join, not re-run the subquery per row
    "q_sql_q17" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem_v l1
        WHERE l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem_v l2
          WHERE l2.l_partkey = l1.l_partkey)""")
    }),

    // TPC-H Q21 shape: suppliers who were the ONLY problem line in a
    // multi-supplier order — EXISTS + NOT EXISTS over the same fact,
    // decorrelated to semi + anti joins ('R' returns stand in for the
    // reference's late-receipt columns, absent from this schema)
    "q_sql_q21" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier_v
        JOIN lineitem_v l1 ON s_suppkey = l1.l_suppkey
        JOIN orders_v ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT * FROM lineitem_v l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT * FROM lineitem_v l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10""")
    }),

    // TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    // fact-fact join + group + deterministic top-k
    "q_sql_q10" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM customer_v
        JOIN orders_v ON c_custkey = o_custkey
        JOIN lineitem_v ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1996-04-01'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20""")
    }),

    // TPC-H Q18 shape: HAVING subquery (large-quantity orders) feeding a
    // 3-way join — the semi-join-through-aggregate pattern
    "q_sql_q18" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS total_qty
        FROM customer_v
        JOIN orders_v ON c_custkey = o_custkey
        JOIN lineitem_v ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem_v
          GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100""")
    }),

    // TPC-H Q4 shape (adapted: no commit/receipt dates in the testdata, so
    // "late" = a line shipped >60 days after the order): EXISTS subquery →
    // left-semi join, priority rollup
    "q_sql_q4" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders_v
        WHERE o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem_v
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority""")
    }),

    // TPC-H Q12 shape (l_linestatus stands in for l_shipmode, absent from
    // the testdata): join + two conditional counts — the CASE-inside-SUM
    // partial-agg pattern
    "q_sql_q12" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders_v JOIN lineitem_v ON o_orderkey = l_orderkey
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_linestatus""")
    }),

    // TPC-H Q14 shape: promo-revenue ratio — ratio of two conditional sums
    // over one join; sums stay decimal until the final double division so
    // the quotient is order-independent
    "q_sql_q14" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT CAST(ROUND(
                 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END)
                   AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE), 4) AS DOUBLE)
               AS promo_revenue
        FROM lineitem_v JOIN part_v ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1996-09-01'
          AND l_shipdate < DATE '1996-10-01'""")
    }),

    // TPC-H Q19 shape: disjunction of brand/size/quantity conjuncts — the
    // OR-of-ANDs pushdown test (part-side conjuncts prune the broadcast
    // side, lineitem conjuncts reach the scan)
    "q_sql_q19" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity >= 20 AND l_quantity <= 30)""")
    }),

    // TPC-H Q22 shape (adapted: nationkey stands in for the phone country
    // code; "no orders" would be empty on this data, so dormant = no order
    // since 1999): scalar-subquery threshold + NOT EXISTS anti join. The
    // avg-balance cut is cross-multiplied (bal·n > sum) so the predicate
    // is exact decimal math — no float-threshold boundary flake
    "q_sql_q22" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        WITH pos AS (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                   AS DECIMAL(38,2)) AS bal_sum,
                 COUNT(*) AS bal_n
          FROM customer_v WHERE c_acctbal > 0)
        SELECT c_nationkey, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS totacctbal
        FROM customer_v, pos
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal_n > bal_sum
          AND NOT EXISTS (
            SELECT 1 FROM orders_v
            WHERE o_custkey = c_custkey
              AND o_orderdate >= DATE '1999-01-01')
        GROUP BY c_nationkey""")
    }),

    // TPC-H Q2 shape: minimum-cost supplier per part via a CORRELATED
    // MIN subquery over the same 4-way join the outer query runs —
    // Catalyst must decorrelate to an aggregate + join (PlanSpec guards
    // no nested-loop/cartesian). partsupp stand-in: the distinct
    // (part, supplier) pairs of lineitem, supplycost = min line price.
    // Order keys (s_name, p_partkey) make the LIMIT cut deterministic.
    "q_sql_q2" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      t(s, d, "region").createOrReplaceTempView("region_v")
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 MIN(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS ps_supplycost
          FROM lineitem_v GROUP BY l_partkey, l_suppkey)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
               CAST(ps_supplycost AS DOUBLE) AS supplycost
        FROM part_v, ps, supplier_v, nation_v, region_v
        WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
          AND p_size = 15 AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
          AND ps_supplycost = (
            SELECT MIN(ps2.ps_supplycost)
            FROM ps ps2, supplier_v s2, nation_v n2, region_v r2
            WHERE ps2.ps_partkey = p_partkey
              AND s2.s_suppkey = ps2.ps_suppkey
              AND s2.s_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r2.r_regionkey
              AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100""")
    }),

    // TPC-H Q9 shape: product-line profit by nation and year — the
    // 6-way join + expression rollup. Profit = revenue − supplycost·qty
    // with the Q2 partsupp stand-in; all decimal until the final cast.
    "q_sql_q9" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 MIN(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS ps_supplycost
          FROM lineitem_v GROUP BY l_partkey, l_suppkey)
        SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
        FROM (
          SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                   - ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
                   AS amount
          FROM part_v
          JOIN lineitem_v ON p_partkey = l_partkey
          JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
          JOIN supplier_v ON s_suppkey = l_suppkey
          JOIN orders_v ON o_orderkey = l_orderkey
          JOIN nation_v ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%red%') profit
        GROUP BY nation, o_year""")
    }),

    // TPC-H Q11 shape: important-stock cut — a grouped value against a
    // scalar-subquery threshold over the SAME CTE. The fraction is
    // scale-free (value > 1.5× the average part value) and
    // cross-multiplied into exact integer·decimal math (the q22 trick),
    // so no float-threshold boundary flake.
    "q_sql_q11" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      t(s, d, "region").createOrReplaceTempView("region_v")
      s.sql("""
        WITH val AS (
          SELECT l_partkey AS ps_partkey,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(18,4))) AS v
          FROM lineitem_v
          JOIN supplier_v ON s_suppkey = l_suppkey
          JOIN nation_v ON s_nationkey = n_nationkey
          JOIN region_v ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
          GROUP BY l_partkey)
        SELECT ps_partkey, CAST(v AS DOUBLE) AS part_value
        FROM val, (SELECT SUM(v) AS tot, COUNT(*) AS cnt FROM val)
        WHERE v * cnt * 10 > 15 * tot""")
    }),

    // TPC-H Q16 shape: supplier diversity per part attribute —
    // COUNT(DISTINCT) under a NOT IN anti-subquery ("complaints" =
    // negative account balance; the subquery key is non-null so NOT IN
    // and NOT EXISTS agree on both engines).
    "q_sql_q16" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier_v WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size""")
    }),

    // TPC-H Q20 shape: the nested-semi-join stress — IN over a derived
    // table whose rows are themselves filtered by an IN subquery AND a
    // CORRELATED scalar aggregate (suppliers whose all-time shipped
    // quantity of a 'red%' part is more than 2× what that (part,
    // supplier) pair shipped in 1996). PlanSpec guards decorrelation.
    "q_sql_q20" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT s_suppkey, s_name
        FROM supplier_v JOIN nation_v ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_11')
          AND s_suppkey IN (
            SELECT ps.l_suppkey FROM (
              SELECT l_partkey, l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
              FROM lineitem_v GROUP BY l_partkey, l_suppkey) ps
            WHERE ps.l_partkey IN (
              SELECT p_partkey FROM part_v WHERE p_name LIKE 'red%')
            AND ps.total_qty > (
              SELECT 2 * COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))),
                CAST(0 AS DECIMAL(18,2)))
              FROM lineitem_v l2
              WHERE l2.l_partkey = ps.l_partkey
                AND l2.l_suppkey = ps.l_suppkey
                AND l2.l_shipdate >= DATE '1996-01-01'
                AND l2.l_shipdate < DATE '1997-01-01'))""")
    }),

    // S9 warehouse path: saveAsTable into the session catalog, read back
    // via spark.table — the BigQuery-external-table analog
    "q_s9_catalog_roundtrip" -> ((s, d) => {
      val wh = scratch(s, "graft_wh_q")
      t(s, d, "nation").write.mode("overwrite")
        .option("path", s"$wh/nation_tbl").saveAsTable("graft_nation_tbl")
      s.table("graft_nation_tbl")
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"))
    }),

    // Co-located join: both sides persisted bucketed on the join key, so
    // the sort-merge join runs with zero shuffle exchanges (asserted in
    // SourcesSpec).
    "q_s_bucketed_join" -> ((s, d) => {
      // bucket only the columns the downstream joins need — the layout
      // write scales with bytes, and pruning happens at write time here,
      // not scan time later
      val o = graft.sources.StagedSources.bucketedTable(s,
        t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders_q", "o_orderkey", 8)
      val l = graft.sources.StagedSources.bucketedTable(s,
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice"),
        "graft_bkt_lineitem_q", "l_orderkey", 8)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
    }),

    "q_m4_date_roundtrip" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("date_str",
          date_format(col("o_orderdate"), "EEE, MMM dd, yyyy"))   // M4/M11
        .select(col("o_orderkey"), col("date_str"),
          to_date(regexp_replace(col("date_str"), "^[A-Za-z]+, ", ""),
            "MMM dd, yyyy").as("parsed"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom")))               // M5
  )

  private def parityOracleSql: Map[String, String] = Map(
    "q_p2_rename_positional" ->
      """SELECT n_nationkey AS nation_key, n_name AS nation_name,
         n_regionkey AS region_key FROM nation""",

    "q_p4_positional_select" ->
      "SELECT c_name, c_nationkey FROM customer",

    "q_p5_lit_drop" ->
      """SELECT p_partkey, p_name, p_brand, p_type,
         'staged' AS ingest_source FROM part""",

    "q_f_filters" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem
         WHERE l_shipdate IS NOT NULL AND l_returnflag <> 'N'
           AND (l_shipdate > TIMESTAMP '1997-06-01' OR l_linestatus <> 'F')""",

    "q_f4_numeric_parse" ->
      """WITH g AS (
           SELECT p_partkey,
                  CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size AS VARCHAR)
                       ELSE p_name END AS g_raw
           FROM part)
         SELECT p_partkey, TRY_CAST(g_raw AS INTEGER) AS g FROM g
         WHERE TRY_CAST(g_raw AS INTEGER) IS NOT NULL""",

    "q_j1_j2_lookup_override" ->
      """SELECT l_orderkey, l_linenumber, n_name, r_name,
                CASE WHEN n_name = 'FRANCE'
                          AND l_shipdate < TIMESTAMP '1997-01-01'
                     THEN 'FRA-LEGACY'
                     ELSE upper(substring(n_name, 1, 3)) END AS abbrev
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey""",

    "q_j4_m8_date_flag" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS season,
                CASE WHEN o_orderdate <
                       CAST(year(o_orderdate) || '-07-01' AS TIMESTAMP)
                     THEN 1 ELSE 0 END AS is_first_half
         FROM orders""",

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN
           (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)""",

    // NOT EXISTS, not NOT IN: one NULL o_custkey would make NOT IN
    // vacuously empty while Spark's left_anti keeps non-matching rows
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey)""",

    "q_a1_union_missing" ->
      """SELECT c_name AS name, c_acctbal AS acctbal,
                c_nationkey AS nationkey, c_mktsegment AS mktsegment,
                'customer' AS entity
         FROM customer
         UNION ALL
         SELECT s_name, s_acctbal, s_nationkey, NULL, 'supplier'
         FROM supplier""",

    "q_a2_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_agg_q1" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                COUNT(*) AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1999-09-02'
         GROUP BY l_returnflag, l_linestatus""",

    "q_o1_m7_sort_id" ->
      """SELECT o_orderkey, o_orderdate,
                md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
                  strftime(o_orderdate, '%Y-%m-%d'))) AS game_id
         FROM orders ORDER BY o_orderdate, o_orderkey""",

    "q_o3_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""",

    "q_m1_m3_clock_score" ->
      """SELECT l_orderkey, l_linenumber,
                l_linenumber * 60 + CAST(l_partkey % 60 AS INTEGER) AS secs,
                CAST(l_partkey % 150 AS INTEGER) AS away_pt,
                CAST(l_suppkey % 150 AS INTEGER) AS home_pt
         FROM lineitem""",

    "q_m6_classify" ->
      """WITH staged AS (
           SELECT p_partkey,
                  CASE WHEN p_partkey % 4 = 0 THEN CAST(p_size AS VARCHAR)
                       ELSE p_type END AS g_raw,
                  CASE WHEN p_partkey % 7 = 0 THEN 'Player Development'
                       ELSE p_brand || ' Coach pro' END AS role
           FROM part)
         SELECT p_partkey,
                CASE WHEN TRY_CAST(g_raw AS INTEGER) IS NOT NULL
                       THEN 'Head Coach'
                     WHEN role = 'Player Development' THEN role
                     ELSE split_part(role, 'Coach', 1) || 'Coach'
                END AS coach_type
         FROM staged""",

    "q_m9_nullout" ->
      """WITH staged AS (
           SELECT l_orderkey, l_linenumber, l_returnflag AS ev_away,
                  CASE WHEN l_linenumber % 2 = 0 THEN l_returnflag
                       ELSE l_linestatus END AS pt_away
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                CASE WHEN ev_away = pt_away OR pt_away IS NULL THEN NULL
                     ELSE ev_away END AS ev_away_clean
         FROM staged""",

    "q_w1_running_counter" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_partkey, l_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS period
         FROM lineitem""",

    "q_w2_forward_fill" ->
      """SELECT l_orderkey, l_linenumber,
                COALESCE(last_value(
                    CASE WHEN l_linenumber % 2 = 1 THEN l_extendedprice END
                    IGNORE NULLS)
                  OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_partkey, l_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  0.0) AS filled
         FROM lineitem""",

    "q_w3_marker_fill" ->
      """SELECT l_orderkey, l_linenumber,
                COALESCE(last_value(
                    CASE WHEN l_linenumber = 1 THEN 1
                         WHEN l_quantity > 45 THEN 0 END
                    IGNORE NULLS)
                  OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_partkey, l_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  1) AS is_starter
         FROM lineitem""",

    "q_e1_pipeline" -> Pipelines.e1OracleSql,
    "q_e2_pipeline" -> Pipelines.e2OracleSql,
    "q_e3_pipeline" -> Pipelines.e3OracleSql,

    "q_window_rank" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER w AS rn,
                  rank() OVER w AS rk,
                  lag(o_totalprice, 1) OVER w AS prev_price,
                  lead(o_totalprice, 1) OVER w AS next_price
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey))
         WHERE rn <= 3""",

    "q_window_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
                ntile(4) OVER w::INT AS quartile,
                round(cume_dist() OVER w, 6) AS cd,
                round(percent_rank() OVER w, 6) AS pr
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice ASC, o_orderkey ASC)""",

    "q_agg_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS season, o_orderstatus,
                COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS total
         FROM orders
         GROUP BY ROLLUP (season, o_orderstatus)""",

    "q_agg_distinct_counts" ->
      """SELECT l_returnflag,
                COUNT(DISTINCT l_partkey) AS n_parts,
                COUNT(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag""",

    "q_pivot" ->
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS season,
                CAST(SUM(CASE WHEN l_returnflag = 'A'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
                  AS "A",
                CAST(SUM(CASE WHEN l_returnflag = 'N'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
                  AS "N",
                CAST(SUM(CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
                  AS "R"
         FROM lineitem GROUP BY 1""",

    "q_agg_cube" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS season,
                o_orderpriority, COUNT(*) AS cnt
         FROM orders GROUP BY CUBE (season, o_orderpriority)""",

    "q_sql_grouping_sets" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS season,
                o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS total
         FROM orders
         GROUP BY GROUPING SETS ((season), (o_orderpriority),
                                 (season, o_orderpriority))""",

    "q_set_ops" ->
      """SELECT c_custkey, 'both' AS src FROM (
           SELECT DISTINCT o_custkey AS c_custkey FROM orders
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         UNION ALL
         SELECT c_custkey, 'only_high_bal' AS src FROM (
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000
           EXCEPT
           SELECT DISTINCT o_custkey FROM orders)""",

    "q_unpivot" ->
      """WITH m AS (
           SELECT l_returnflag, 'l_quantity' AS metric,
                  l_quantity AS value FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'l_extendedprice', l_extendedprice
           FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
         SELECT l_returnflag, metric,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM m GROUP BY l_returnflag, metric""",

    "q_full_outer_join" ->
      """SELECT COALESCE(a.k, b.k) AS k, a.name_a, b.region_b
         FROM (SELECT n_nationkey AS k, n_name AS name_a
               FROM nation WHERE n_nationkey < 15) a
         FULL JOIN (SELECT n_nationkey AS k, n_regionkey AS region_b
                    FROM nation WHERE n_nationkey >= 10) b
           ON a.k = b.k""",

    "q_agg_stats" ->
      """SELECT l_returnflag,
                round(corr(l_quantity, l_extendedprice), 4) AS corr_qe,
                round(stddev_samp(l_discount), 4) AS sd_disc,
                round(covar_samp(l_quantity, l_discount), 4) AS cov_qd
         FROM lineitem GROUP BY l_returnflag""",

    "q_window_range_frame" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                  PARTITION BY o_custkey
                  ORDER BY datediff('day', DATE '1970-01-01',
                                    o_orderdate::DATE)
                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS sum_30d
         FROM orders""",

    "q_null_safe_join" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                       ELSE o_orderpriority END AS prio
           FROM orders),
         dim AS (
           SELECT DISTINCT
                  CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                       ELSE o_orderpriority END AS prio,
                  COALESCE(TRY_CAST(substr(CASE WHEN o_orderpriority =
                        '1-URGENT' THEN NULL ELSE o_orderpriority END,
                      1, 1) AS INT), 0) AS prio_rank
           FROM orders)
         SELECT prio_rank, COUNT(*) AS cnt
         FROM o JOIN dim ON o.prio IS NOT DISTINCT FROM dim.prio
         GROUP BY prio_rank""",

    "q_agg_collect" ->
      """SELECT l_returnflag,
                array_to_string(
                  list(DISTINCT l_linestatus ORDER BY l_linestatus), ',')
                  AS statuses,
                array_to_string(
                  list(DISTINCT year(l_shipdate)::INT
                       ORDER BY year(l_shipdate)::INT), ',') AS ship_years,
                COUNT(DISTINCT l_suppkey)::INT AS n_suppliers
         FROM lineitem GROUP BY l_returnflag""",

    // nulls encode as a chr(0) sentinel on BOTH engines (concat_ws alone
    // would skip null columns; '||' would null the whole row hash out);
    // every value is length-prefixed (len:value) so separator chars
    // inside values cannot shift field boundaries
    "q_dataset_fingerprint" ->
      """WITH e AS (SELECT
           coalesce(doc_id::VARCHAR, chr(0)) AS c1,
           coalesce(lang, chr(0)) AS c2,
           coalesce(source, chr(0)) AS c3,
           coalesce(n_chars::VARCHAR, chr(0)) AS c4
         FROM documents)
         SELECT count(*)::BIGINT AS n_rows,
                (SUM(('0x' || substr(md5(
                     length(c1)::VARCHAR || ':' || c1 || '|'
                     || length(c2)::VARCHAR || ':' || c2 || '|'
                     || length(c3)::VARCHAR || ':' || c3 || '|'
                     || length(c4)::VARCHAR || ':' || c4), 1, 15))::BIGINT)
                 % (2::HUGEINT ^ 60)::HUGEINT)::VARCHAR AS content_hash
         FROM e""",

    // the merged summary must equal a from-scratch aggregate — the whole
    // point of the incremental-maintenance contract
    "q_incremental_agg" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderpriority""",

    "q_snapshot_diff" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus
           FROM orders WHERE o_orderkey % 3 <> 0),
         n AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice,
                  o_orderstatus
           FROM orders WHERE o_orderkey % 5 <> 0)
         SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                CASE WHEN o.o_orderkey IS NULL THEN 'added'
                     WHEN n.o_orderkey IS NULL THEN 'removed'
                     WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                      AND o.o_orderstatus IS NOT DISTINCT
                            FROM n.o_orderstatus THEN 'unchanged'
                     ELSE 'changed' END AS change_type
         FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey""",

    "q_upsert_latest" ->
      """WITH all_rows AS (
           SELECT o_orderkey, o_totalprice, 1 AS version FROM orders
           UNION ALL
           SELECT o_orderkey, o_totalprice * 2, 2 AS version
           FROM orders WHERE o_orderkey % 10 = 0)
         SELECT o_orderkey, o_totalprice, version FROM (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC) AS rn
           FROM all_rows)
         WHERE rn = 1""",

    "q_salted_join" ->
      """SELECT s_nationkey, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey""",

    "q_sql_q5" ->
      """SELECT n_name,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1997-01-01'
         GROUP BY n_name""",

    "q_sql_q3" ->
      """SELECT l_orderkey,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                o_orderdate
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < DATE '1995-03-15'
           AND l_shipdate > DATE '1995-03-15'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10""",

    "q_sql_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",

    "q_sql_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
                CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE)
                  AS revenue
         FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                  year(l_shipdate)::INT AS l_year,
                  l_extendedprice * (1 - l_discount) AS volume
           FROM supplier
           JOIN lineitem ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
             AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
             AND n1.n_name <> n2.n_name
             AND l_shipdate >= DATE '1996-01-01'
             AND l_shipdate < DATE '1998-01-01') shipping
         GROUP BY supp_nation, cust_nation, l_year""",

    "q_sql_q8" ->
      """SELECT o_year,
                ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3'
                         THEN vol_dec ELSE CAST(0 AS DECIMAL(18,4)) END)
                    AS DOUBLE)
                  / CAST(SUM(vol_dec) AS DOUBLE), 6) AS mkt_share
         FROM (
           SELECT year(o_orderdate)::INT AS o_year,
                  CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4)) AS vol_dec,
                  n2.n_name AS nation
           FROM part
           JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           WHERE r_name = 'ASIA'
             AND o_orderdate >= DATE '1996-01-01'
             AND o_orderdate < DATE '1998-01-01'
             AND p_type = 'PROMO') all_nations
         GROUP BY o_year""",

    "q_sql_q13" ->
      """SELECT c_count, count(*)::BIGINT AS custdist FROM (
           SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey
             AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY c_count""",

    "q_sql_q15" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= DATE '1996-01-01'
             AND l_shipdate < DATE '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, CAST(total_rev AS DOUBLE) AS total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)""",

    "q_sql_q17" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) / 7.0 AS avg_yearly
         FROM lineitem l1
         WHERE l_quantity < (
           SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
           WHERE l2.l_partkey = l1.l_partkey)""",

    "q_sql_q21" ->
      """SELECT s_name, count(*)::BIGINT AS numwait
         FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND EXISTS (
             SELECT * FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (
             SELECT * FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey
               AND l3.l_returnflag = 'R')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 10""",

    "q_sql_q10" ->
      """SELECT c_custkey, c_name,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1996-04-01'
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey ASC
         LIMIT 20""",

    // FLOOR before the cast on BOTH engines: a bare double->BIGINT cast
    // truncates in Spark but rounds in DuckDB (2.6 -> 2 vs 3)
    "q_sql_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS total_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 100""",

    "q_sql_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1996-04-01'
           AND EXISTS (
             SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority""",

    "q_sql_q12" ->
      """SELECT l_linestatus,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1997-01-01'
         GROUP BY l_linestatus""",

    "q_sql_q14" ->
      """SELECT CAST(ROUND(
                  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END)
                    AS DOUBLE)
                  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS DOUBLE), 4) AS DOUBLE)
                AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= DATE '1996-09-01'
           AND l_shipdate < DATE '1996-10-01'""",

    "q_sql_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity >= 1 AND l_quantity <= 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity >= 10 AND l_quantity <= 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                AND l_quantity >= 20 AND l_quantity <= 30)""",

    "q_sql_q22" ->
      """WITH pos AS (
           SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS bal_sum,
                  COUNT(*) AS bal_n
           FROM customer WHERE c_acctbal > 0)
         SELECT c_nationkey, COUNT(*) AS numcust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  AS totacctbal
         FROM customer, pos
         WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal_n > bal_sum
           AND NOT EXISTS (
             SELECT 1 FROM orders
             WHERE o_custkey = c_custkey
               AND o_orderdate >= DATE '1999-01-01')
         GROUP BY c_nationkey""",

    "q_sql_q2" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  MIN(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS ps_supplycost
           FROM lineitem GROUP BY l_partkey, l_suppkey)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
                CAST(ps_supplycost AS DOUBLE) AS supplycost
         FROM part, ps, supplier, nation, region
         WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
           AND p_size = 15 AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
           AND ps_supplycost = (
             SELECT MIN(ps2.ps_supplycost)
             FROM ps ps2, supplier s2, nation n2, region r2
             WHERE ps2.ps_partkey = p_partkey
               AND s2.s_suppkey = ps2.ps_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey
               AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         LIMIT 100""",

    "q_sql_q9" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  MIN(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS ps_supplycost
           FROM lineitem GROUP BY l_partkey, l_suppkey)
         SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
         FROM (
           SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
                  CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                    - ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
                    AS amount
           FROM part
           JOIN lineitem ON p_partkey = l_partkey
           JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE p_name LIKE '%red%') profit
         GROUP BY nation, o_year""",

    "q_sql_q11" ->
      """WITH val AS (
           SELECT l_partkey AS ps_partkey,
                  SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS v
           FROM lineitem
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'
           GROUP BY l_partkey)
         SELECT ps_partkey, CAST(v AS DOUBLE) AS part_value
         FROM val, (SELECT SUM(v) AS tot, COUNT(*) AS cnt FROM val) t
         WHERE v * cnt * 10 > 15 * tot""",

    "q_sql_q16" ->
      """SELECT p_brand, p_type, p_size,
                COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#5'
           AND p_type NOT LIKE 'PROMO%'
           AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
           AND l_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size""",

    "q_sql_q20" ->
      """SELECT s_suppkey, s_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name IN ('NATION_3', 'NATION_11')
           AND s_suppkey IN (
             SELECT ps.l_suppkey FROM (
               SELECT l_partkey, l_suppkey,
                      SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
               FROM lineitem GROUP BY l_partkey, l_suppkey) ps
             WHERE ps.l_partkey IN (
               SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
             AND ps.total_qty > (
               SELECT 2 * COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))),
                 CAST(0 AS DECIMAL(18,2)))
               FROM lineitem l2
               WHERE l2.l_partkey = ps.l_partkey
                 AND l2.l_suppkey = ps.l_suppkey
                 AND l2.l_shipdate >= DATE '1996-01-01'
                 AND l2.l_shipdate < DATE '1997-01-01'))""",

    "q_agg_percentile" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
         FROM lineitem GROUP BY l_returnflag""",

    "q_s9_catalog_roundtrip" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations
         FROM nation GROUP BY n_regionkey""",

    "q_s_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    "q_m4_date_roundtrip" ->
      """SELECT o_orderkey,
                strftime(o_orderdate, '%a, %b %d, %Y') AS date_str,
                CAST(strptime(regexp_replace(
                    strftime(o_orderdate, '%a, %b %d, %Y'),
                    '^[A-Za-z]+, ', ''), '%b %d, %Y') AS DATE) AS parsed,
                CAST(year(o_orderdate) AS INTEGER) AS y,
                CAST(month(o_orderdate) AS INTEGER) AS m,
                CAST(day(o_orderdate) AS INTEGER) AS dom
         FROM orders""",

    // Sketch queries: the oracle computes the exact side and asserts the
    // verdict literally — the hash matches iff the Spark sketch landed
    // inside its configured error bound.
    "q_approx_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts, TRUE AS ok
         FROM lineitem""",

    "q_approx_percentile" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                TRUE AS ok
         FROM lineitem GROUP BY l_returnflag""",

    "q_approx_heavy_hitters" ->
      """SELECT CAST(10 AS BIGINT) AS n_reported, TRUE AS bounds_ok,
                TRUE AS contains_top5""",

    "q_hll_partitioned" ->
      """SELECT count(DISTINCT user_id) AS exact_users, TRUE AS ok
         FROM events"""
  )
}
