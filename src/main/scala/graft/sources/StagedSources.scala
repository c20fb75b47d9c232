package graft.sources

import graft.ArtifactStore.scratch
import graft.Staging._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sources & sinks — SURVEY.md §2.1 (S4-S8).
  *
  * The reference's flow is CSV-in-flight → parquet-at-rest → lake layout
  * (`scrape_data_to_gcs.py:34-39,196-320`). These helpers reproduce that
  * shape with Spark's native readers/writers: explicit schemas at the CSV
  * edge (the reference's stringly CSV round-trip becomes a declared
  * schema), parquet + `partitionBy` for the per-season lake layout (S8),
  * which at 100 TB gives static+dynamic partition pruning for free.
  */
object StagedSources {

  /** S5 CSV sink → S4 CSV scan round trip, schema pinned (no inference
    * drift). Stands in for the reference's to_csv/read_csv inter-task IR. */
  def csvRoundTrip(spark: SparkSession, df: DataFrame): DataFrame = {
    val tmp = scratch(spark, "graft_csv")
    df.write.mode("overwrite").option("header", "true").csv(tmp)
    spark.read.option("header", "true").schema(df.schema).csv(tmp)
  }

  /** S6+S8: parquet lake layout partitioned by an entity key — one
    * directory per partition value, as the reference lays out one object
    * per (entity, season). */
  def partitionedRoundTrip(spark: SparkSession, df: DataFrame,
                           partCol: String): DataFrame = {
    val tmp = scratch(spark, "graft_lake")
    df.write.mode("overwrite").partitionBy(partCol).parquet(tmp)
    spark.read.parquet(tmp)
  }

  /** ORC sink → ORC scan round trip: the second columnar at-rest format
    * (some warehouses are ORC-native). Same staged shape as the parquet
    * path — schema travels in the file, no inference at read. */
  def orcRoundTrip(spark: SparkSession, df: DataFrame): DataFrame = {
    val tmp = scratch(spark, "graft_orc")
    df.write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp)
  }

  /** JSON-lines sink → scan round trip with a pinned schema — the
    * interchange format for event feeds. Schema is declared at the edge
    * (inference over 100 TB of JSON is a full extra pass). */
  def jsonRoundTrip(spark: SparkSession, df: DataFrame): DataFrame = {
    val tmp = scratch(spark, "graft_jsonl")
    df.write.mode("overwrite").json(tmp)
    spark.read.schema(df.schema).json(tmp)
  }

  /** XML sink → scan round trip (Spark 4's built-in XML source — the
    * feed format the reference's scraped pages are one unparse away
    * from): explicit `rowTag`, schema pinned at read like the
    * CSV/JSON edges — XML inference is a full extra pass AND
    * alphabetizes columns, both wrong at 100 TB. */
  def xmlRoundTrip(spark: SparkSession, df: DataFrame): DataFrame = {
    val tmp = scratch(spark, "graft_xml")
    df.write.mode("overwrite").option("rowTag", "row").xml(tmp)
    spark.read.option("rowTag", "row")
      // the reader TRIMS element text by default — a silent data change
      // ("  spaced  " → "spaced"); a round trip must be exact
      .option("ignoreSurroundingSpaces", "false")
      .schema(df.schema).xml(tmp)
  }

  /** Malformed-record quarantine: scan JSON lines in PERMISSIVE mode
    * with a declared schema + a `_corrupt_record` column — bad records
    * surface as rows (typed fields null, raw line captured) instead of
    * failing the job or being silently dropped. The ingest contract for
    * a 100 TB feed where some fraction of lines is always garbage: the
    * pipeline quarantines and accounts for them, the scan stays one
    * pass, and the good rows keep vectorized parsing.
    *
    * `corrupt` marks which staged lines to mangle (deterministically), so
    * correctness can assert the exact quarantine split. */
  def permissiveJsonQuarantine(spark: SparkSession, df: DataFrame,
                               corrupt: org.apache.spark.sql.Column)
  : DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StringType, StructType}
    val tmp = scratch(spark, "graft_quarantine")
    df.select(when(corrupt, concat(lit("{bad "), to_json(struct(col("*")))))
        .otherwise(to_json(struct(col("*")))).as("value"))
      .write.mode("overwrite").text(tmp)
    val schema = StructType(df.schema.fields)
      .add("_corrupt_record", StringType)
    // materialize the parsed scan: Spark (correctly) refuses plans that
    // prune a raw-JSON scan down to only `_corrupt_record`
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and a quarantine step wants
    // the parse to happen exactly once anyway, with both the good rows
    // and the quarantined raws read from the materialized result
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .stage()
  }

  /** Schema evolution at the lake: two parquet batches written under
    * DIFFERENT schemas (the second adds columns), read back as one table
    * with `mergeSchema` — old files surface the new columns as null.
    * This is how a 100 TB table adds a column without rewriting history;
    * the merge is a footer-level union of schemas, not a data pass. */
  def evolvedRead(spark: SparkSession, oldBatch: DataFrame,
                  newBatch: DataFrame): DataFrame = {
    val tmp = scratch(spark, "graft_evolve")
    oldBatch.write.mode("overwrite").parquet(s"$tmp/b=0")
    newBatch.write.mode("overwrite").parquet(s"$tmp/b=1")
    spark.read.option("mergeSchema", "true").parquet(tmp)
  }

  /** Co-located join layout: persist a table hash-bucketed (and
    * bucket-sorted) by its join key. Two tables bucketed the same way
    * join with NO shuffle exchange on either side — at 100 TB this is
    * the difference between a full-network re-shuffle of the fact table
    * on every join and a scan-local sort-merge. The bucket count is a
    * layout decision made once at write time, exactly like the
    * reference's one-object-per-season layout (S8) but keyed for joins
    * instead of pruning. */
  def bucketedTable(spark: SparkSession, df: DataFrame, name: String,
                    key: String, numBuckets: Int): DataFrame = {
    val wh = scratch(spark, s"graft_bkt_$name")
    // pre-partition ON the bucket hash: Spark's bucket id and
    // hashpartitioning use the same Murmur3, so task i holds exactly
    // bucket i — the write parallelizes across buckets with one file
    // each, instead of one task sorting and writing every bucket (the
    // single-row-group testdata arrives as one partition)
    df.repartition(numBuckets, df(key))
      .write.mode("overwrite")
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", s"$wh/$name")
      .saveAsTable(name)
    spark.table(name)
  }
}
