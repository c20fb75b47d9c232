package graft

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Catalog of the driver-provided testdata tables (TESTDATA.md).
  *
  * The reference engine's data model is "a flat table per entity, parquet at
  * rest in a lake layout" (SURVEY.md §1; reference
  * `data_ingestion/dags/scrape_data_to_gcs.py:34-39,196-320`). Here every
  * entity is a parquet file under one scale-factor directory; each table's
  * schema is the one its parquet footer carries, so Catalyst gets exact
  * types and the vectorized reader + column pruning work out of the box.
  *
  * Reads go through [[graft.sources.Parquet]], which reads that footer on
  * the driver: building a table's frame lists its path and reads one
  * footer, and starts no Spark job (`spark.read.parquet` starts a
  * one-task schema-inference job per read). The scan itself is Spark's:
  * one task per row-group/128MB split, at 100 TB the same call with more
  * splits. The driver-side cost per read is the listing and one footer,
  * whatever the table size.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one entity table from a scale-factor dir. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** `events` with a usable TimestampType `ts`, whatever the file stored.
    *
    * The driver has shipped two generations of events.parquet: an older one
    * with `ts` as parquet TIMESTAMP(NANOS) — which Spark's vectorized reader
    * only accepts as nanosecond longs under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench) — and
    * the current one with plain `timestamp[us]`, which arrives as
    * TIMESTAMP_NTZ (Spark 4 infers NTZ for non-UTC-adjusted micros).
    * Normalizing here, keyed on the schema Spark actually read, keeps every
    * downstream query on session-zone TimestampType regardless of the file
    * generation: longs are nanos → `timestamp_micros(ns div 1000)` (integer
    * `div` stays exact above 2^53 where a double roundtrip would not), and
    * NTZ casts to TimestampType (identity on wall-clock values — sessions
    * pin `spark.sql.session.timeZone=UTC`, matching DuckDB's naive reading
    * of the same file).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      // FLOOR division, not `div` (which truncates toward zero): a
      // pre-epoch nano timestamp would otherwise land one micro late
      // (-1500 div 1000 = -1, floor = -2) and cross bucket boundaries
      case LongType         => raw.withColumn("ts",
        expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
}
