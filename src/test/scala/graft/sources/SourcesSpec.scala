package graft.sources

import org.apache.spark.sql.functions._

import graft.ArtifactStore.scratch
import graft.SparkSpec

/** S4-S9 (SURVEY.md §2.1): CSV round trip, partitioned lake layout with
  * partition pruning, and the warehouse catalog path (S9). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq((1, "a", 10.5), (2, "b", 20.25), (3, "a", 1.0))
    .toDF("id", "grp", "v")

  test("S4/S5 csv round trip preserves schema and rows") {
    val back = StagedSources.csvRoundTrip(spark, df)
    // CSV read-back relaxes nullability; names+types must survive
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSet === df.collect().toSet)
  }

  test("ORC round trip preserves schema and rows") {
    val back = StagedSources.orcRoundTrip(spark, df)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSet === df.collect().toSet)
  }

  test("JSON-lines round trip preserves schema, rows, and exact doubles") {
    // doubles must survive the text round trip bit-exactly (shortest
    // round-trip representation), not approximately
    val doubles = Seq((1L, 0.1), (2L, 1.0 / 3.0), (3L, 1.7976931348623157e308))
      .toDF("id", "v")
    val back = StagedSources.jsonRoundTrip(spark, doubles)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      doubles.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSet === doubles.collect().toSet)
  }

  test("XML round trip preserves schema, rows, and markup-hostile " +
    "strings") {
    // entities, angle brackets, and doubles must survive the markup
    // round trip exactly — the writer escapes, the reader unescapes,
    // and the pinned read schema keeps declared column order (XML
    // inference alphabetizes)
    val hostile = Seq((1L, "a<b&c>\"d'", 10.5),
        (2L, "plain", 1.0 / 3.0), (3L, "  spaced  ", -0.0))
      .toDF("id", "s", "v")
    val back = StagedSources.xmlRoundTrip(spark, hostile)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      hostile.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSet === hostile.collect().toSet)
  }

  test("PERMISSIVE quarantine: bad lines captured raw, good lines typed") {
    val rows = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w"))
      .toDF("k", "s")
    val back = StagedSources.permissiveJsonQuarantine(spark, rows,
      col("k") % 2 === 0)
    val good = back.filter(col("_corrupt_record").isNull)
      .select("k", "s").as[(Long, String)].collect().toSet
    assert(good === Set((1L, "x"), (3L, "z")))
    val bad = back.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() === 2)
    // typed fields are null on quarantined rows; the raw line survives
    assert(bad.filter(col("k").isNotNull).count() === 0)
    assert(bad.select("_corrupt_record").as[String].collect()
      .forall(_.startsWith("{bad ")))
  }

  test("mergeSchema read unifies evolved batches; legacy rows null-fill") {
    val oldB = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val newB = Seq((3L, "c", 30), (4L, "d", 40)).toDF("k", "s", "extra")
    val merged = StagedSources.evolvedRead(spark, oldB, newB)
    assert(merged.columns.toSet === Set("k", "s", "extra", "b"))
    val rows = merged.select("k", "extra")
      .as[(Long, Option[Int])].collect().toMap
    assert(rows === Map(1L -> None, 2L -> None,
      3L -> Some(30), 4L -> Some(40)))
  }

  test("S6/S8 partitioned parquet round trip + partition pruning") {
    val back = StagedSources.partitionedRoundTrip(spark, df, "grp")
    assert(back.count() === 3)
    // partition filter must prune at the file-index level, not post-scan
    val pruned = back.filter(col("grp") === "a")
    assert(pruned.count() === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter (grp"),
      "partition filter should be pruned into the scan, not a Filter node")
  }

  test("S8b dynamic partition overwrite = re-scrape one season") {
    // the reference re-runs one season's DAG and replaces only that
    // season's object (`scrape_data_to_gcs.py:264-266`); the Spark-native
    // equivalent is dynamic partition overwrite
    val lake = scratch(spark, "graft_dpo")
    val v1 = Seq((1996, "a", 1), (1996, "b", 2), (1997, "c", 3))
      .toDF("season", "k", "v")
    v1.write.mode("overwrite").partitionBy("season").parquet(lake)

    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      Seq((1996, "a", 99)).toDF("season", "k", "v")
        .write.mode("overwrite").partitionBy("season").parquet(lake)
    } finally {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    }

    val back = spark.read.parquet(lake)
    // 1996 replaced wholesale, 1997 untouched
    assert(back.filter(col("season") === 1996).collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Int]("v"))).toSet === Set(("a", 99)))
    assert(back.filter(col("season") === 1997).count() === 1)
  }

  test("S9 warehouse table: saveAsTable + catalog read back") {
    val wh = scratch(spark, "graft_wh")
    df.write.mode("overwrite")
      .option("path", s"$wh/t_sources_spec")
      .saveAsTable("t_sources_spec")
    val back = spark.table("t_sources_spec")
    assert(back.count() === 3)
    assert(spark.catalog.tableExists("t_sources_spec"))
    spark.sql("DROP TABLE t_sources_spec")
  }
}
