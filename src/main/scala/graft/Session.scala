package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's local SparkSession is configured. Every
  * main (Bench, Verify, RunOne, ScaleSmoke), the shared test session and
  * the dev probes build through here, so a setting and its reason are
  * stated once.
  *
  * Settings:
  *  - `local[cores]` and `spark.sql.shuffle.partitions = cores`: one task
  *    slot and one shuffle partition per core (a cluster deploy sets the
  *    partitions to ~2-3× total cores or relies on AQE coalescing).
  *  - `spark.ui.enabled = false`: no web UI for a batch run.
  *  - `spark.sql.session.timeZone = UTC`: day boundaries and timestamp
  *    rendering match the DuckDB oracle.
  *  - `spark.sql.legacy.parquet.nanosAsLong = true`: one generation of
  *    the testdata `events.parquet` stores TIMESTAMP(NANOS), which Spark
  *    reads only as longs; `Tables.events` normalizes both generations.
  *  - `spark.sql.extensions = GraftExtensions`: registers the `graft_*`
  *    SQL functions (graft_topk, graft_dot, ...) in every session.
  *  - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold = 2^20`:
  *    keeps ObjectHashAggregate hashing in the many-small-groups regime of
  *    graft_topk's kNN-graph and margin rankings (one k-row buffer per
  *    group). The 128-group default falls back to sort-based aggregation,
  *    which re-sorts the candidate blow-up and erases the bounded
  *    aggregate's win (isolated probe: ~4 s hashing vs ~22 s fallback at
  *    40M candidates / 100k groups). Buffers are k·16 bytes, so a million
  *    hashed groups is tens of MB per partition. Pinned by TopKAggSpec.
  *  - `spark.sql.artifact.isolation.enabled = false`: tasks run under the
  *    executor's shared class loader instead of one loader per session.
  *    Spark caches generated classes per (class loader, source), so a
  *    query re-run in a later session, or a stream in its cloned one,
  *    reuses compiled classes instead of compiling, loading and JIT-ing
  *    them again. The engine adds no session artifacts (jars, files), so
  *    the flag chooses nothing else; [[graft.streaming.Streams
  *    .streamSession]] sets it on the per-run stream sessions too.
  */
object Session {
  /** Task slots for the mains and probes: `SPARK_GRAFT_CPUS`, or 32. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(32)

  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1L << 20))
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
