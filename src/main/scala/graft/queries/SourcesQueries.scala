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

/** source/sink round trips, lake layout, schema lifecycle — the Sources slice of the
  * extension surface, split out of [[ExtensionQueries]] (round 12)
  * with zero behavior change: entries are verbatim; shared artifact
  * helpers and oracle CTE fragments stay package-private in
  * [[ExtensionQueries]]. Composed back in [[ExtensionQueries.queries]]
  * / [[ExtensionQueries.oracleSql]]. */
private[graft] object SourcesQueries {
  import Tables.t
  import ExtensionQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sources / sinks (S4-S8) ------------------------------------------
    "q_s_csv_roundtrip" -> ((s, d) =>
      StagedSources.csvRoundTrip(s, t(s, d, "nation"))),

    "q_s_orc_roundtrip" -> ((s, d) =>
      StagedSources.orcRoundTrip(s, t(s, d, "nation"))),

    // ---- S1/P6: literal HTML <table> parse --------------------------------
    // one rendered page per region (the S2 multi-page shape), each with
    // a colspan'd 2-LEVEL header (the coaches.py:49-53 case), pushed
    // through the scan-local read_html analog, header-flattened, pivoted
    // back to typed columns — the oracle checks the exact round-trip
    "q_s1_html_table" -> ((s, d) => {
      val pages = t(s, d, "nation")
        .select(col("n_regionkey").as("page"),
          struct(col("n_nationkey"), col("n_name")).as("r"))
        .groupBy("page")
        .agg(array_sort(collect_list(col("r"))).as("rs"))
        .select(col("page"),
          HtmlTables.renderPage(Seq(
            Seq("nation" -> 2, "geo" -> 1),
            Seq("key" -> 1, "name" -> 1, "region" -> 1)))(
            transform(col("rs"), r => array(
              r.getField("n_nationkey").cast("string"),
              r.getField("n_name"),
              col("page").cast("string")))).as("html"))
      val long = HtmlTables.table(pages, "page", "html", headerRows = 2)
      HtmlTables.pivot(long,
          Seq("nation_key", "nation_name", "geo_region"))
        .select(col("nation_key").cast("long").as("n_nationkey"),
          col("nation_name").as("n_name"),
          col("geo_region").cast("long").as("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    "q_s_json_roundtrip" -> ((s, d) =>
      StagedSources.jsonRoundTrip(s, t(s, d, "supplier"))),

    // XML sink → scan round trip (Spark 4 built-in source; explicit
    // rowTag, schema pinned at read — inference alphabetizes columns
    // and costs a full extra pass)
    "q_s_xml_roundtrip" -> ((s, d) =>
      StagedSources.xmlRoundTrip(s, t(s, d, "region"))),

    // batch 0 wrote (key, name), batch 1 added s_nationkey; the merged
    // read must surface legacy rows with a null for the new column
    "q_s_schema_evolution" -> ((s, d) => {
      val sup = t(s, d, "supplier")
      StagedSources.evolvedRead(s,
        sup.filter(col("s_suppkey") % 2 === 0)
          .select("s_suppkey", "s_name"),
        sup.filter(col("s_suppkey") % 2 =!= 0)
          .select("s_suppkey", "s_name", "s_nationkey"))
        .groupBy(col("s_nationkey").isNull.as("legacy_rows"))
        .agg(count(lit(1)).as("cnt"),
          sum(coalesce(col("s_nationkey"), lit(0))).cast("bigint")
            .as("sum_nk"))
    }),

    // every 7th supplier line is mangled before the scan; the PERMISSIVE
    // read must quarantine exactly those and parse the rest
    "q_s_quarantine" -> ((s, d) =>
      StagedSources.permissiveJsonQuarantine(s,
        t(s, d, "supplier").select("s_suppkey", "s_name", "s_nationkey"),
        col("s_suppkey") % 7 === 0)
        .groupBy(col("_corrupt_record").isNotNull.as("quarantined"))
        .agg(count(lit(1)).as("cnt"),
          sum(coalesce(col("s_suppkey"), lit(0))).cast("bigint")
            .as("sum_key"))),

    // fragment orders into 64 micro-files, compact to ~4 MB targets, and
    // aggregate the compacted copy — proves the maintenance rewrite is
    // content-preserving (file-count/size bounds are asserted in
    // LayoutSpec; the oracle can only see rows)
    "q_s_compaction" -> ((s, d) => {
      val tmp = scratch(s, "graft_compact_q")
      t(s, d, "orders").repartition(64)
        .write.mode("overwrite").parquet(s"$tmp/frag")
      Layout.compact(s, s"$tmp/frag", s"$tmp/compacted",
        targetBytes = 4L * 1024 * 1024)
      s.read.parquet(s"$tmp/compacted")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    }),

    "q_s8_partitioned_sink" -> ((s, d) =>
      StagedSources.partitionedRoundTrip(s,
        t(s, d, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag"),
        "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))),

    // ---- S1+S2 composed: staged-pages DSv2 scan → literal HTML parse ------
    // the reference's exact ingestion shape end-to-end: one page FILE
    // per region on disk, the staged-pages source plans one input
    // partition per page, each page's markup parses scan-locally into
    // typed rows — a migrating user's full first step. The page writes
    // are a |regions|-bounded fixture (the q_s_csv_roundtrip class of
    // driver-side setup), not a data-path collect.
    "q_s1_staged_pages" -> ((s, d) => {
      val pages = t(s, d, "nation")
        .select(col("n_regionkey").as("page"),
          struct(col("n_nationkey"), col("n_name")).as("r"))
        .groupBy("page")
        .agg(array_sort(collect_list(col("r"))).as("rs"))
        .select(col("page"),
          HtmlTables.renderPage(Seq(
            Seq("nation" -> 2, "geo" -> 1),
            Seq("key" -> 1, "name" -> 1, "region" -> 1)))(
            transform(col("rs"), r => array(
              r.getField("n_nationkey").cast("string"),
              r.getField("n_name"),
              col("page").cast("string")))).as("html"))
      val dir = java.nio.file.Paths.get(scratch(s, "graft_html_pages"))
      pages.collect().foreach { r =>
        java.nio.file.Files.write(
          dir.resolve(s"region_${r.get(0)}.html"),
          r.getString(1).getBytes("UTF-8"))
      }
      // rendered pages are single-line, so (page file, line) is the
      // whole document; page identity comes from the file name
      val scanned = s.read.format("staged-pages")
        .option("path", dir.toString).load()
        .select(regexp_extract(col("page"), "region_(\\d+)\\.html", 1)
          .cast("long").as("page"), col("line").as("html"))
      HtmlTables.pivot(
          HtmlTables.table(scanned, "page", "html", headerRows = 2),
          Seq("nation_key", "nation_name", "geo_region"))
        .select(col("nation_key").cast("long").as("n_nationkey"),
          col("nation_name").as("n_name"),
          col("geo_region").cast("long").as("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // ---- S3 anchor-extract parity: regex extract-all + explode ------------
    "q_s3_regex_extract" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"),
            lit("\\b(s[a-z]+)\\b"), lit(1))).as("href"))
        .groupBy("href")
        .agg(count(lit(1)).as("n"))),

    // ---- z-order layout key -----------------------------------------------
    // per-row Morton key over the (partkey, suppkey) plane — the sort key
    // zorderWrite clusters files by (layout measured in ZOrderSpec)
    "q_zorder_key" -> ((s, d) =>
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        call_function("graft_zorder", col("l_partkey").cast("long"),
          col("l_suppkey").cast("long"), lit(11)).as("z"))),
  )

  def oracleSql: Map[String, String] = Map(
    "q_s_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    // the parse is exact, so the round-trip restores the table verbatim
    "q_s1_html_table" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
                CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation ORDER BY n_nationkey""",

    // same exact round trip, through the on-disk page files + DSv2 scan
    "q_s1_staged_pages" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
                CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation ORDER BY n_nationkey""",

    "q_s8_partitioned_sink" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem GROUP BY l_returnflag""",

    "q_s3_regex_extract" ->
      """SELECT href, COUNT(*) AS n
         FROM (SELECT doc_id,
                      unnest(regexp_extract_all(text, '\b(s[a-z]+)\b', 1))
                        AS href
               FROM documents)
         GROUP BY href""",

    "q_s_orc_roundtrip" -> "SELECT * FROM nation",

    "q_s_json_roundtrip" -> "SELECT * FROM supplier",

    "q_s_xml_roundtrip" -> "SELECT * FROM region",

    "q_s_schema_evolution" ->
      """SELECT (s_suppkey % 2 = 0) AS legacy_rows,
                count(*)::BIGINT AS cnt,
                CAST(SUM(CASE WHEN s_suppkey % 2 = 0 THEN 0
                              ELSE s_nationkey END) AS BIGINT) AS sum_nk
         FROM supplier GROUP BY 1""",

    "q_s_quarantine" ->
      """SELECT (s_suppkey % 7 = 0) AS quarantined,
                count(*)::BIGINT AS cnt,
                CAST(SUM(CASE WHEN s_suppkey % 7 = 0 THEN 0
                              ELSE s_suppkey END) AS BIGINT) AS sum_key
         FROM supplier GROUP BY 1""",

    "q_s_compaction" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price
         FROM orders GROUP BY o_orderpriority""",

    "q_zorder_key" -> {
      // unrolled Morton interleave — disjoint bit positions, so + ≡ |
      val terms = (0 until 11).flatMap(i => Seq(
        s"((((l_partkey & 2047) >> $i) & 1) << ${2 * i})",
        s"((((l_suppkey & 2047) >> $i) & 1) << ${2 * i + 1})"))
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                 CAST(${terms.mkString(" + ")} AS BIGINT) AS z
          FROM lineitem"""
    },
  )
}
