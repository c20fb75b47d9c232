package graft.streaming

import graft.ArtifactStore.scratch
import graft.Staging._
import graft.sources.Parquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Structured Streaming parity — SURVEY.md §2.9.
  *
  * The reference's incremental surface is Airflow `@yearly` catchup
  * backfills (one run per season, ≤3 concurrent —
  * `scrape_data_to_gcs.py:268-277`). The Spark-native equivalent is a file
  * stream + `Trigger.AvailableNow`: process everything currently present,
  * in bounded batches, then stop — exactly "catch up, then exit", but with
  * watermarked event-time semantics instead of filename conventions.
  *
  * Determinism: the windowed aggregate sums through `decimal(18,2)` so the
  * result is independent of batch slicing and partial-agg order — the
  * streaming result hash-matches the batch oracle.
  */
object Streams {

  /** Event-time normalization for the streaming sources — same contract as
    * [[graft.Tables.events]], applied to a streaming DataFrame: older
    * testdata ships `ts` as nanosecond longs (TIMESTAMP(NANOS) under
    * `nanosAsLong`), current testdata as `timestamp[us]` arriving
    * TIMESTAMP_NTZ; both land on session-zone TimestampType so watermarks
    * and windows see identical event time across file generations. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // floor division (see Tables.events): pre-epoch nanos must not
        // truncate toward zero
        df.withColumn("ts",
          expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** The session one stream run does all of its Spark work in: its seed
    * reads, the stream, the `foreachBatch` kernels and the result it
    * returns. It is a `newSession()` of `spark` with artifact isolation
    * off, set before the session's first use (Spark reads the flag once,
    * lazily). Spark caches generated classes by (task thread's context
    * class loader, source), and an isolated session's tasks run under
    * that session's own executor class loader; since every run starts in
    * a new session (and the stream itself in a clone of it), every run
    * would compile, load and JIT its generated classes from cold. With
    * isolation off the tasks run under the executor's shared loader, so
    * a repeat run reuses the first run's classes. The engine adds no
    * session artifacts, so the flag only chooses that loader. Scratch
    * dirs stay owned by `spark`: keying them by a per-run session would
    * keep that session reachable until the context stops. */
  private[graft] def streamSession(spark: SparkSession): SparkSession = {
    val ns = spark.newSession()
    ns.conf.set("spark.sql.artifact.isolation.enabled", "false")
    ns
  }

  /** The [[streamSession]] a stateful stream over the `glob` files of
    * `dir` runs in. Each stateful operator keeps one state store per
    * shuffle partition (a stream-stream join keeps four), and every store
    * commits each micro-batch, so at small state the per-batch cost
    * follows the partition count, not the data. The count is therefore
    * the smaller of `spark`'s `spark.sql.shuffle.partitions` and the
    * split count of a batch scan over the same files, under Spark's own
    * split sizing: a one-file table gets one state partition, a
    * lake-scale input (at least one split per core) the full count, and
    * no stateful stage is wider than its input. A restart keeps its
    * checkpoint's count: Spark restores `spark.sql.shuffle.partitions`
    * from the offset log, so the rule only sizes a fresh checkpoint.
    *
    * `rocksDb` swaps in the RocksDB state store: state lives
    * off-heap/on-disk per partition instead of in executor JVM maps,
    * for stateful queries whose live state (e.g. a day of dedup keys at
    * 100 TB/day) dwarfs executor heap. Changelog checkpointing keeps
    * per-batch uploads incremental. */
  private[graft] def statefulSession(spark: SparkSession, dir: String,
                                     glob: String,
                                     rocksDb: Boolean = false)
  : SparkSession = {
    // splits do not depend on the columns; an empty read schema skips
    // the schema-inference job
    val splits = spark.read
      .schema(new StructType())
      .option("pathGlobFilter", glob).parquet(dir)
      .queryExecution.sparkPlan.collectFirst {
        case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      }.get
    val ns = streamSession(spark)
    ns.conf.set("spark.sql.shuffle.partitions", math.min(splits,
      spark.conf.get("spark.sql.shuffle.partitions").toInt).toLong)
    if (rocksDb) {
      ns.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      ns.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
    }
    ns
  }

  /** The `glob` files of `dir` as a batch table (the streams read one
    * table out of a dir that holds several). */
  private def globRead(sess: SparkSession, dir: String, glob: String)
  : DataFrame =
    Parquet.reader(sess).option("pathGlobFilter", glob).load(dir)

  /** The `glob` files of `dir` as a file stream, one file per
    * micro-batch (the file-stream source wants a directory; the glob
    * selects the table out of it). */
  private[graft] def fileStream(sess: SparkSession, dir: String,
                                glob: String): DataFrame =
    fileStream(sess, dir, glob, globRead(sess, dir, glob).schema)

  /** [[fileStream]] with the schema of a batch read the caller already
    * holds, so the dir is not listed and a footer read a second time. */
  private def fileStream(sess: SparkSession, dir: String, glob: String,
                         schema: StructType): DataFrame =
    sess.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", glob)
      .parquet(dir)

  // ---- the catch-up runner -------------------------------------------------

  /** Every stream here runs as a catch-up: `Trigger.AvailableNow`
    * processes everything present under `checkpoint`'s offsets, in
    * bounded batches, then stops. Returns the finished query (its
    * `recentProgress` holds the per-batch metrics). */
  private def catchUp(writer: DataStreamWriter[Row],
                      checkpoint: String): StreamingQuery = {
    val q = writer
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The memory sink (and temp view) name of the catch-up at
    * `checkpoint`. The hash is rendered unsigned: `math.abs` leaves
    * `Int.MinValue` negative, and a `-` is not valid in a view name. */
  private[streaming] def memorySinkName(checkpoint: String): String =
    "graft_sink_" + Integer.toUnsignedString(checkpoint.hashCode)

  /** Catch `stream` up into a memory sink and return its rows, read back
    * from the session the stream ran in (the one [[streamSession]]
    * made). The sink's temp view is dropped once the result frame
    * exists: the frame keeps the sink's rows, and nothing else pins
    * them on the driver after the caller lets go of it. */
  private def catchUpToMemory(stream: DataFrame, checkpoint: String,
                              mode: String): DataFrame = {
    val sink = memorySinkName(checkpoint)
    catchUp(stream.writeStream.format("memory").queryName(sink)
      .outputMode(mode), checkpoint)
    val sess = stream.sparkSession
    val rows = sess.table(sink)
    sess.catalog.dropTempView(sink)
    rows
  }

  /** Catch `stream` up through a `foreachBatch` sink running `f` on each
    * (micro-batch, batch id). */
  private[graft] def catchUpEachBatch(stream: DataFrame, checkpoint: String,
                                      mode: String = "append")
                                     (f: (DataFrame, Long) => Unit)
  : StreamingQuery =
    catchUp(stream.writeStream.outputMode(mode)
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        f(batch.toDF(), batchId)), checkpoint)

  // ---- snapshot chains -----------------------------------------------------

  /** The versions of the snapshot chain at `path`: one `v_<batchId>`
    * parquet dir per committed micro-batch, the newest being the
    * current table. Hadoop FS, not java.io: the chain must work on any
    * warehouse filesystem (HDFS/object store), not just local disk. */
  private def snapshotVersions(spark: SparkSession, path: String)
  : Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_"))
      .map(_.getPath.getName.stripPrefix("v_").toLong)
  }

  /** Whether Spark's write of the parquet dir `dir` completed: its
    * job commit leaves a `_SUCCESS` marker as the last step. */
  private def committed(spark: SparkSession, dir: String): Boolean = {
    val marker = new Path(s"$dir/_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker)
  }

  private def emptyFrame(spark: SparkSession, schema: StructType)
  : DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Commit micro-batch `batchId` to the snapshot chain at `path`: write
    * the frame `build` makes from the base as the new `v_<batchId>`,
    * then retire the superseded versions. A parquet dir cannot be
    * overwritten while it is also the read side of the new snapshot,
    * hence the chain — the poor-man's form of what a transactional
    * table format (Delta/Iceberg) provides at production scale.
    *
    * Crash-replay safety: after a crash between the `v_<batchId>` write
    * and the offset commit, the batch is REDELIVERED with the same id
    * while `v_<batchId>` is already the newest snapshot. Naively
    * building on "latest" would then lazily READ the dir the overwrite
    * targets (overwrite deletes it first → FileNotFoundException, and
    * the only snapshot is gone). Two rules make replay safe: the base is
    * the newest version STRICTLY BELOW `batchId` (`seed` when there is
    * none), and a complete (`_SUCCESS`-marked) `v_<batchId>` skips
    * `build` — the work is already durable. Superseded snapshots go only
    * AFTER the new one is durable (a version above `batchId` is
    * impossible under AvailableNow's monotone ids).
    *
    * @return `build`'s second result, or None when the batch was
    *         already committed */
  private def commitSnapshot[T](spark: SparkSession, path: String,
                                batchId: Long, seed: => DataFrame)
                               (build: DataFrame => (DataFrame, T))
  : Option[T] = {
    val out =
      if (committed(spark, s"$path/v_$batchId")) None
      else {
        val base = snapshotVersions(spark, path).filter(_ < batchId)
          .sorted.lastOption
          .map(v => Parquet.read(spark, s"$path/v_$v"))
          .getOrElse(seed)
        val (snapshot, result) = build(base)
        snapshot.write.mode("overwrite").parquet(s"$path/v_$batchId")
        Some(result)
      }
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshotVersions(spark, path).filter(_ < batchId)
      .foreach(v => fs.delete(new Path(s"$path/v_$v"), true))
    out
  }

  /** The current (highest-version) snapshot of a chain, or an empty
    * frame of `schema` when none exists yet. */
  private def latestSnapshot(spark: SparkSession, path: String,
                             schema: StructType): DataFrame =
    snapshotVersions(spark, path).sorted.lastOption
      .map(v => Parquet.read(spark, s"$path/v_$v"))
      .getOrElse(emptyFrame(spark, schema))

  /** The snapshot-chain MERGE sink: upsert one micro-batch into the
    * chain at `tablePath` with [[graft.ops.relational.upsertLatest]],
    * keyed by `keys`, latest wins on `versionCol`. Shared by
    * [[upsertStreamToTable]] (CDC rows) and [[ohlcStreamUpdate]]
    * (update-mode aggregates). */
  private def snapshotChainMerge(spark: SparkSession, tablePath: String,
                                 schema: StructType, keys: Seq[String],
                                 versionCol: String, batch: DataFrame,
                                 batchId: Long): Unit =
    commitSnapshot(spark, tablePath, batchId, emptyFrame(spark, schema)) {
      base => (graft.ops.relational.upsertLatest(base, batch, keys,
        versionCol), ())
    }

  /** Daily tumbling-window aggregate over the `events` stream: count +
    * exact value sum per (day, event_type), watermarked 1 day.
    *
    * `glob` selects which files of `dir` form the stream (default: the
    * single events table; specs pass a multi-file temp dir to prove the
    * result is independent of micro-batch slicing). */
  def dailyEventAgg(spark: SparkSession, dir: String, checkpoint: String,
                    glob: String = "events.parquet"): DataFrame = {
    val sess = statefulSession(spark, dir, glob)
    val agg = normalizeTs(fileStream(sess, dir, glob))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value_dec"))
      .select(col("win.start").as("day"), col("event_type"), col("cnt"),
        col("sum_value_dec").cast("double").as("sum_value"))

    catchUpToMemory(agg, checkpoint, "complete")
  }

  /** The shared OHLC windowed aggregation over a raw event stream —
    * identical plan under both output modes. */
  private def ohlcAgg(stream: DataFrame, barSeconds: Long,
                      valueExpr: Column): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    normalizeTs(stream)
      .withColumn("__v", valueExpr)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), s"$barSeconds seconds").as("win"),
        col("event_type"))
      .agg(min_by(col("__v"), ord).as("open"),
        max(col("__v")).as("high"),
        min(col("__v")).as("low"),
        max_by(col("__v"), ord).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(col("__v").cast("decimal(18,2)")).as("volume"))
      .select(col("event_type"), col("win.start").as("bar_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"), col("volume"))
  }

  /** Streaming OHLC candles: the incremental twin of
    * [[graft.ops.timeseries.ohlcBars]] — fixed `barSeconds` windows per
    * event type, open/close picked by (ts, event_id) order with
    * `min_by`/`max_by` INSIDE the windowed aggregation (order-
    * insensitive state: each arriving row either improves the extreme
    * or doesn't, so late/shuffled arrival can't change the result —
    * that's what makes candles incremental-safe where ranking isn't,
    * cf. [[topKStream]]). Volume accumulates in decimal(18,2) so
    * micro-batch slicing can't reorder a float sum. Spark's `window()`
    * buckets are epoch-aligned — identical to the batch operator's
    * floor-division bar id.
    *
    * State note: this runs in `complete` output mode (the memory-sink
    * harness replays the whole candle table per trigger), and in
    * complete mode Spark retains ALL aggregation state — the watermark
    * below is inert. [[ohlcStreamUpdate]] IS the bounded-state
    * production path: `update` mode + the snapshot-chain upsert sink,
    * where the 1-day watermark evicts closed bars and state is one day
    * of open bars.
    *
    * @param valueExpr tick-value projection (default raw `value`);
    *   pass an integer-cents cast for exact cross-engine bars
    */
  def ohlcStream(spark: SparkSession, dir: String, checkpoint: String,
                 barSeconds: Long = 86400L,
                 glob: String = "events.parquet",
                 valueExpr: Column = col("value")): DataFrame = {
    val sess = statefulSession(spark, dir, glob)
    val agg = ohlcAgg(fileStream(sess, dir, glob), barSeconds, valueExpr)
    catchUpToMemory(agg, checkpoint, "complete")
  }

  /** The PRODUCTION deployment of [[ohlcStream]]: `update` output mode
    * + the [[snapshotChainMerge]] upsert sink keyed by
    * (event_type, bar_start), latest micro-batch wins. In update mode
    * the 1-day watermark is LIVE — closed bars are emitted, merged
    * into the table, and EVICTED from state, so a perpetual feed holds
    * one day of open bars instead of the whole history (`complete`
    * mode retains every bar ever seen; it exists for the memory-sink
    * harness). The final table equals the complete-mode result on a
    * catchup run because each bar's last update wins the upsert.
    *
    * Returns the current table; [[ohlcStreamUpdateStats]] also reports
    * the final state-store row count, which StreamsSpec asserts stays
    * below the total bar count on a multi-day multi-batch feed (the
    * eviction actually happening, not just documented). */
  def ohlcStreamUpdate(spark: SparkSession, dir: String,
                       checkpoint: String, tablePath: String,
                       barSeconds: Long = 86400L,
                       glob: String = "events.parquet",
                       valueExpr: Column = col("value")): DataFrame =
    ohlcStreamUpdateStats(spark, dir, checkpoint, tablePath, barSeconds,
      glob, valueExpr)._1

  /** [[ohlcStreamUpdate]] plus the final state-store row count. */
  def ohlcStreamUpdateStats(spark: SparkSession, dir: String,
                            checkpoint: String, tablePath: String,
                            barSeconds: Long = 86400L,
                            glob: String = "events.parquet",
                            valueExpr: Column = col("value"))
  : (DataFrame, Long) = {
    val sess = statefulSession(spark, dir, glob)
    val agg = ohlcAgg(fileStream(sess, dir, glob), barSeconds, valueExpr)
    val tableSchema = agg.schema.add("__bid", LongType)
    val q = catchUpEachBatch(agg, checkpoint, "update") { (batch, batchId) =>
      snapshotChainMerge(sess, tablePath, tableSchema,
        keys = Seq("event_type", "bar_start"), versionCol = "__bid",
        batch.withColumn("__bid", lit(batchId)), batchId)
    }
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .lastOption.map(_.numRowsTotal).getOrElse(0L)
    (latestSnapshot(sess, tablePath, tableSchema).drop("__bid"),
      stateRows)
  }

  // ---- sessionization ------------------------------------------------------

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                          value: Double)
  /** lastSec is floor-seconds (matching the batch `ts.cast("long")` gap
    * semantics); sumCents keeps the 2-decimal values exact so the stream
    * sum is order-independent and equals the batch decimal sum. */
  case class SessionState(start: java.sql.Timestamp, lastSec: Long,
                          n: Long, sumCents: Long)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     n_events: Long, sum_value: Double)

  /** Streaming exact dedup: emit each (user_id, event_type) key once,
    * with state bounded by the watermark — the stream-ingest side of the
    * dedup surface (`Dedup.exact` is the at-rest side). State size is
    * |distinct keys seen within the watermark|, not |stream|, so a
    * perpetual 100 TB/day feed holds a day of keys, not the firehose.
    * Output carries only the key columns: which PHYSICAL row arrives
    * first is batch-slicing-dependent, the key set is not. */
  def dedupStream(spark: SparkSession, dir: String,
                  checkpoint: String,
                  rocksDb: Boolean = false): DataFrame = {
    val sess = statefulSession(spark, dir, "events.parquet", rocksDb)
    val deduped = normalizeTs(fileStream(sess, dir, "events.parquet"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")

    catchUpToMemory(deduped, checkpoint, "append")
  }

  /** Streaming per-window top-k heavy hitters: maintain exact running
    * counts per (day, event_type, user_id) over the stream, then rank
    * the top `k` users per (day, event_type) at read time — the
    * continuous "who dominates each slice" monitor (abuse/hot-key
    * detection over an ingest feed).
    *
    * The streaming half is ONLY the incremental aggregation — ranking
    * is not an incremental-safe operator (a late row can reorder any
    * prefix), so the row_number cut runs as a BATCH query over the
    * aggregate's result table. That is the production split: the
    * stream maintains the counts, the dashboard ranks on read. State
    * is the exact per-key count map — sharded by the state-partition
    * hash across executors, RocksDB-backed (`rocksDb`) when it
    * outgrows heap; an approximate space-bounded variant is
    * the batch `HeavyHitters` sketch, this is its exact streaming
    * sibling.
    *
    * Tie-break: (cnt DESC, user_id ASC) — deterministic, mirrored by
    * the twin.
    *
    * @return (day, event_type, user_id, cnt) — top k per (day, type)
    */
  def topKStream(spark: SparkSession, dir: String, checkpoint: String,
                 k: Int, rocksDb: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val sess = statefulSession(spark, dir, "events.parquet", rocksDb)
    val counts = normalizeTs(fileStream(sess, dir, "events.parquet"))
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"),
        col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("win.start").as("day"), col("event_type"),
        col("user_id"), col("cnt"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day"), col("event_type"))
      .orderBy(col("cnt").desc, col("user_id"))
    catchUpToMemory(counts, checkpoint, "complete")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Streaming count-min sketch: the d×w cell counts maintained as
    * STREAMING-AGGREGATION STATE — each micro-batch's keys hash into
    * their cells map-side and the state store adds them in, so the live
    * sketch is queryable after every batch without ever re-scanning
    * history. This is the canonical deployment of a mergeable sketch
    * (the whole point of additive cells): state is bounded at d·w rows
    * no matter how many distinct keys flow past, which is why it's safe
    * as UNWINDOWED complete-mode aggregation where a per-key count
    * would grow without bound.
    *
    * Returns the sketch cells; estimate with [[graft.ops.sketches
    * .cmsEstimate]] — stream ≡ batch ([[graft.ops.sketches.cmsBuild]])
    * is pinned by StreamsSpec, which is exactly the sketch's shard-
    * merge property with micro-batches as the shards. */
  def cmsStream(spark: SparkSession, dir: String, checkpoint: String,
                keyCol: String, depth: Int, width: Int,
                glob: String = "events.parquet"): DataFrame = {
    val sess = statefulSession(spark, dir, glob)
    val cells = normalizeTs(fileStream(sess, dir, glob))
      .select(explode(graft.ops.sketches.cellsOf(col(keyCol), depth,
        width)).as("cell"))
      .groupBy(col("cell.seed").as("seed"),
        col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))

    catchUpToMemory(cells, checkpoint, "complete")
  }

  /** Streaming mergeable quantile sketch: the HDR bucket counts of
    * [[graft.ops.qsketch]] ARE the aggregation state — ≤ 64·2^s rows no
    * matter how many values flow past (value-space bounded, exactly the
    * CMS argument), so unwindowed complete-mode aggregation is safe
    * where a per-value count would grow without bound. Micro-batches
    * are the sketch's shards; stream ≡ batch IS the merge property.
    * Returns the bucket frame; probe with [[graft.ops.qsketch
    * .quantiles]]. */
  def quantileSketchStream(spark: SparkSession, dir: String,
                           checkpoint: String, valueExpr: Column,
                           s: Int, glob: String = "events.parquet")
  : DataFrame = {
    val sess = statefulSession(spark, dir, glob)
    val lo = graft.ops.qsketch.bucketLo(valueExpr, s)
    val buckets = normalizeTs(fileStream(sess, dir, glob))
      .select(lo.as("bkt_lo"))
      .groupBy("bkt_lo")
      .agg(count(lit(1)).as("cnt"))

    catchUpToMemory(buckets, checkpoint, "complete")
  }

  /** Stream-static TEMPORAL enrichment: each event picks up the
    * dimension version VALID AT ITS EVENT TIME (`from ≤ ts < to`) — the
    * streaming read side of an SCD2 dimension, the lookup every
    * real-time pipeline does against slowly-changing reference data
    * (price books, account tiers, model versions).
    *
    * Planned as a stateless stream-static EQUI join on the key (the
    * dimension broadcasts into every micro-batch; the stream never
    * shuffles) with the validity range as a post-join filter — row
    * counts stay bounded by versions-per-key, and no state store or
    * watermark is involved because the dimension side is at rest.
    * Batch ≡ stream by construction (same join, same filter; spec'd).
    *
    * @param dim static dimension carrying keyCol + [fromCol, toCol)
    * @return the enriched rows from the drained memory sink
    */
  def temporalEnrichStream(spark: SparkSession, dir: String,
                           checkpoint: String, dim: DataFrame,
                           keyCol: String, fromCol: String,
                           toCol: String,
                           glob: String = "events.parquet"): DataFrame = {
    val enriched = normalizeTs(fileStream(streamSession(spark), dir, glob))
      .join(dim, Seq(keyCol))
      .filter(col("ts") >= col(fromCol) && col("ts") < col(toCol))

    catchUpToMemory(enriched, checkpoint, "append")
  }

  /** Stream-static enrichment join: the event stream joined to a static
    * dimension table. Stateless — no watermark, no state store; Spark
    * broadcasts the static side into every micro-batch, so at 100 TB/day
    * the stream side never shuffles for the join. */
  def enrichStream(spark: SparkSession, dir: String, checkpoint: String,
                   glob: String = "events.parquet",
                   dimDir: String = null): DataFrame = {
    val sess = streamSession(spark)
    val dim = Parquet.read(sess,
      s"${if (dimDir == null) dir else dimDir}/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    val joined = fileStream(sess, dir, glob)
      .select(col("event_id"), col("event_type"),
        pmod(col("user_id"), lit(25)).as("nk"))
      .join(broadcast(dim), col("nk") === col("n_nationkey"))
      .select(col("event_id"), col("event_type"), col("n_name"))

    catchUpToMemory(joined, checkpoint, "append")
  }

  /** Stream-stream interval join (attribution): each `leftType` event
    * joined to every `rightType` event of the same user landing within
    * `[left.ts, left.ts + windowHours]` — the click→purchase attribution
    * shape. Both sides carry a watermark and the join condition bounds
    * right-ts relative to left-ts, so Spark's state store can evict: a
    * buffered left row is droppable once the watermark passes its ts +
    * window, a right row once the watermark passes its ts. State is
    * O(events within watermark + window), not O(stream) — the property
    * that makes a perpetual two-stream join runnable at 100 TB/day.
    * Timestamps return as epoch micros for engine-portable comparison.
    */
  def intervalJoinStreams(spark: SparkSession, dir: String,
                          checkpoint: String, leftType: String,
                          rightType: String, windowHours: Int,
                          glob: String = "events.parquet",
                          joinType: String = "inner"): DataFrame = {
    val sess = statefulSession(spark, dir, glob)
    // each type filter also passes its side's punctuation rows: the
    // optimizer pushes the filter BELOW the EventTimeWatermark operator
    // into the scan (verified via the checkpoint's batchWatermarkMs —
    // a filtered-out sentinel never advances the watermark), so closure
    // punctuation must survive the filter. Sentinel types are PER SIDE
    // (`__sentinel_l` / `__sentinel_r`, 30 days apart) so a left
    // sentinel can never satisfy the 6h/`windowHours` time constraint
    // against a right one — a shared type would self-match (same row
    // read by both sides, identical ts trivially inside the window).
    def side(tpe: String, sentinelType: String) =
      normalizeTs(fileStream(sess, dir, glob))
        .withWatermark("ts", "1 day")
        .filter(col("event_type") === tpe ||
          col("event_type") === sentinelType)
    val left = side(leftType, "__sentinel_l")
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"), col("event_type").as("l_type"))
    val right = side(rightType, "__sentinel_r")
      .select(col("event_id").as("right_id"),
        col("user_id").as("r_user_id"), col("ts").as("right_ts"),
        col("value"), col("event_type").as("r_type"))

    val joined = left.join(right,
      expr(s"""user_id = r_user_id AND
               right_ts >= left_ts AND
               right_ts <= left_ts + interval $windowHours hours"""),
      joinType)
      // drop the sentinel copies (always unmatched — the 30-day l/r
      // sentinel gap keeps them outside every window): left-side
      // sentinels surface under leftOuter/fullOuter, right-side under
      // fullOuter. Each predicate must mention BOTH sides: a
      // single-side `l_type != '__sentinel_l'` is pushed through the
      // outer join BELOW that side's watermark node (filters push
      // through EventTimeWatermark), which blinds the operator to the
      // punctuation and pins the min-policy global watermark forever —
      // found via the executed micro-batch plan. The null checks also
      // make both predicates null-tolerant, so real unmatched rows
      // (null-padded on the other side) pass.
      .filter(!(col("l_type") === "__sentinel_l" &&
        col("right_id").isNull))
      .filter(!(col("r_type") === "__sentinel_r" &&
        col("left_id").isNull))
      .select(col("left_id"), col("right_id"), col("user_id"),
        expr("unix_micros(left_ts)").as("left_us"),
        expr("unix_micros(right_ts)").as("right_us"), col("value"))

    catchUpToMemory(joined, checkpoint, "append")
  }

  /** OUTER stream-stream interval join over a finite input (leftOuter
    * default; fullOuter also supported): every `leftType` event emits,
    * matched rows with their `rightType` payload and unmatched rows
    * null-padded — under fullOuter, unmatched `rightType` events emit
    * null-padded too. An outer stream join only releases
    * an unmatched row once the watermark proves no future match can
    * arrive — so on a finite file the rows inside the last
    * (delay + window) would stay buffered forever. The standard closure
    * idiom is a PUNCTUATION event: the input is staged with sentinel
    * rows of a third event type, years past the data's max ts, which
    * advance both sides' watermarks (they sit upstream of the type
    * filter) beyond every open window. TWO sentinel files are needed,
    * not one: a batch's eviction runs against the watermark committed
    * by the PREVIOUS batch, and `AvailableNow` stops at the last
    * prepared offset without running a trailing no-data batch — so
    * sentinel #1 raises the watermark past every window and sentinel
    * #2's batch performs the flush (verified against the checkpoint
    * offset log: one sentinel leaves the tail's unmatched rows in
    * state). The sentinels never reach the join itself. Result ≡ the
    * batch LEFT JOIN, exactly.
    */
  def intervalJoinStreamsOuter(spark: SparkSession, dir: String,
                               checkpoint: String, leftType: String,
                               rightType: String, windowHours: Int,
                               joinType: String = "leftOuter")
  : DataFrame = {
    require(windowHours < 30 * 24,
      s"windowHours=$windowHours must stay under the 30-day l/r " +
        "sentinel offset or the punctuation rows could join each other")
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staged = Paths.get(scratch(spark, "graft_sj_outer"))
    val evDst = staged.resolve("0_events.parquet")
    Files.copy(Paths.get(dir, "events.parquet"), evDst,
      StandardCopyOption.REPLACE_EXISTING)
    // sentinel built FROM the copied file so its physical ts type
    // matches whichever generation the testdata ships (long nanos vs
    // timestamp[us]) — mixed types in one directory would break the
    // shared read schema
    val raw = Parquet.read(spark, evDst.toString)
    val tsIsLong =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    def farTs(days: Long) =
      if (tsIsLong) col("ts") + lit(days * 86400 * 1000000000L)
      else col("ts") + expr(s"INTERVAL $days DAYS")
    // the file source replays oldest-modTime-first: pin the order so
    // the sentinels form the LAST micro-batches (a sentinel-first
    // replay would watermark every real event into the late-drop path)
    val now = System.currentTimeMillis()
    evDst.toFile.setLastModified(now - 600000)
    Seq(1 -> 3650L, 2 -> 7300L).foreach { case (i, days) =>
      val sentinelStage = scratch(spark, s"graft_sj_sent$i")
      val template = raw.orderBy(col("ts").desc).limit(1)
      // one row per side in the SAME file, so a single sentinel batch
      // advances both watermark operators (min policy); the 30-day l/r
      // offset keeps the pair outside any plausible join window
      template.withColumn("ts", farTs(days))
        .withColumn("event_type", lit("__sentinel_l"))
        .unionAll(template.withColumn("ts", farTs(days + 30))
          .withColumn("event_type", lit("__sentinel_r")))
        .coalesce(1).write.mode("overwrite")
        .parquet(sentinelStage)
      val part = new java.io.File(sentinelStage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val sentDst = staged.resolve(s"${i}_sentinel.parquet")
      Files.move(part.toPath, sentDst)
      sentDst.toFile.setLastModified(now + i * 600000L)
    }
    intervalJoinStreams(spark, staged.toString, checkpoint, leftType,
      rightType, windowHours, glob = "*.parquet", joinType = joinType)
  }

  /** CDC stream → latest-wins lake table: every micro-batch is merged
    * into a versioned parquet table with
    * [[graft.ops.relational.upsertLatest]] inside a `foreachBatch` sink —
    * the loop that connects the streaming surface to the CDC/upsert
    * surface. Each batch commits a NEW `v_<batchId>` snapshot of the
    * chain ([[commitSnapshot]]); the highest version is the current
    * table and the superseded snapshot is retired after the new one
    * lands. The per-batch merge semantics are those of a transactional
    * table format's MERGE.
    *
    * Restart safety: foreachBatch may re-deliver a batch after a crash,
    * but the merge is idempotent (upserting the same rows twice yields
    * the same table), so at-least-once delivery produces the
    * exactly-once table.
    *
    * Returns the final table: the latest row per `keys` by `versionCol`.
    */
  def upsertStreamToTable(spark: SparkSession, dir: String,
                          checkpoint: String, tablePath: String,
                          keys: Seq[String], versionCol: String,
                          glob: String = "events.parquet"): DataFrame = {
    val sess = streamSession(spark)
    val schema = globRead(sess, dir, glob).schema
    catchUpEachBatch(fileStream(sess, dir, glob, schema), checkpoint) {
      (batch, batchId) =>
        snapshotChainMerge(sess, tablePath, schema, keys, versionCol,
          batch, batchId)
    }
    latestSnapshot(sess, tablePath, schema)
  }

  /** Validated ingest: route every streamed row through a per-ROW
    * contract predicate — passing rows append to the published table,
    * failing (or null-predicate) rows to the quarantine — the streaming
    * front door of the [[graft.ops.expectations]] surface. Row-level
    * routing is invariant under batch slicing (unlike batch-level
    * accept/reject), so the end state is deterministic for any
    * maxFilesPerTrigger and matches a plain batch filter — which is
    * exactly what the oracle computes.
    *
    * Restart note: the appends are at-least-once on crash-replay (the
    * production shape routes into a transactional sink the way
    * [[upsertStreamToTable]]'s snapshot chain does for merges);
    * AvailableNow single-run semantics are exact.
    *
    * Returns per-side (side, n_rows, sum_value) audit rows, summed
    * through decimal(18,2) so batch slicing cannot move a bit. */
  def routeValidated(spark: SparkSession, dir: String, checkpoint: String,
                     goodPath: String, badPath: String,
                     pred: org.apache.spark.sql.Column,
                     glob: String = "events.parquet"): DataFrame = {
    val sess = streamSession(spark)
    val schema = globRead(sess, dir, glob).schema
    catchUpEachBatch(fileStream(sess, dir, glob, schema), checkpoint) {
      (batch, _) =>
        val ok = coalesce(pred, lit(false))
        // pinned: the published and quarantine writes would otherwise
        // each re-read the batch's source files — 2× input I/O per batch
        val pinned = batch.persist()
        try {
          pinned.filter(ok).write.mode("append").parquet(goodPath)
          pinned.filter(!ok).write.mode("append").parquet(badPath)
        } finally pinned.unpersist(blocking = false)
    }
    def side(path: String, tag: String): DataFrame = {
      val fs = new Path(path).getFileSystem(
        sess.sparkContext.hadoopConfiguration)
      val df =
        if (fs.exists(new Path(path))) sess.read.schema(schema).parquet(path)
        else emptyFrame(sess, schema)
      df.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("value").cast("decimal(18,2)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)"))
          .cast("double").as("sum_value"))
        .select(lit(tag).as("side"), col("n_rows"), col("sum_value"))
    }
    side(goodPath, "published").unionAll(side(badPath, "quarantined"))
  }

  /** Seed an index kernel's MUTABLE store once. With `seedFrom`, the
    * `subs` of that shared at-rest snapshot are restored by file copy —
    * the stream-startup path a production deployment takes instead of
    * re-deriving its index from the corpus (the snapshot is built once
    * per corpus version; each stream run copies it because the store
    * grows per batch and the shared snapshot must stay read-only);
    * without it, `build` writes them from the corpus. Both write the
    * last of `subs` last, so when that one is committed an earlier run
    * over the same checkpoint already seeded — and since grew — the
    * store, and a restart keeps it as it is. Every restore target is
    * guarded: FileUtil.copy into an EXISTING directory nests the source
    * under it (assignment/assignment) and silently corrupts the layout,
    * so a populated store is refused loudly. */
  private def seedStore(spark: SparkSession, store: String,
                        subs: Seq[String], seedFrom: Option[String])
                       (build: => Unit): Unit =
    if (!committed(spark, s"$store/${subs.last}")) seedFrom match {
      case Some(src) =>
        val conf = spark.sparkContext.hadoopConfiguration
        subs.foreach { sub =>
          val from = new Path(s"$src/$sub")
          val to = new Path(s"$store/$sub")
          val toFs = to.getFileSystem(conf)
          require(!toFs.exists(to),
            s"seed restore target $to already exists — the store is " +
              "populated; use a fresh storePath or drop seedFrom")
          org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(conf),
            from, toFs, to, false, conf)
        }
      case None => build
    }

  /** Compact a grow-by-append parquet store IN PLACE once it holds
    * more than `maxFiles` part files: snapshot the current file list,
    * append ONE coalesced copy of their union, then delete the
    * originals. Crash-safety needs no rename dance because every
    * caller's store tolerates duplicate rows (the dedup index's
    * candidate join distincts; replayed batches already re-append):
    * dying between the append and the deletes only leaves absorbable
    * duplicates, never data loss. Returns the post-call (file count,
    * byte size) — the store-health metrics the caller records. */
  private def compactStore(spark: SparkSession, dir: String,
                           maxFiles: Int): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(): Seq[org.apache.hadoop.fs.FileStatus] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    val before = parts()
    if (before.length > maxFiles) {
      Parquet.read(spark, before.map(_.getPath.toString): _*)
        .coalesce(math.max(1, maxFiles / 8))
        .write.mode("append").parquet(dir)
      before.foreach(st => fs.delete(st.getPath, false))
    }
    val after = parts()
    (after.length.toLong, after.map(_.getLen).sum)
  }

  /** Streaming MinHash-LSH near-dup dedup — the production shape for
    * CONTINUOUS corpus ingestion: arriving documents probe a STATIC
    * banded index (the at-rest (doc_id, shset) + (doc_id, band, bucket)
    * tables [[graft.dedup.Dedup.bandedBuckets]] persists at ingest,
    * here staged once before the stream starts) and emit a keep/drop
    * decision per document. Each micro-batch runs the new×corpus
    * candidate equi-join + exact-Jaccard verify of
    * [[graft.dedup.Dedup.incrementalNearDupsIndexed]] inside
    * foreachBatch — candidates are new×corpus only, never
    * corpus×corpus, so per-batch cost scales with |batch|·bands plus
    * matched buckets no matter how large the indexed corpus is.
    *
    * A document's decision depends only on its own shingles and the
    * static index, so the end state is invariant under batch slicing
    * (the maxFilesPerTrigger=1 equality spec) and equals the batch
    * [[graft.dedup.Dedup.incrementalNearDups]] run — which is what the
    * oracle computes. Stream-vs-stream duplicates are BY DESIGN left to
    * the next index rebuild (same contract as the batch incremental
    * pass; deduping arrivals against each other would make results
    * batch-slicing-dependent). Appends are at-least-once on
    * crash-replay (the [[routeValidated]] caveat); AvailableNow
    * single-run semantics are exact.
    *
    * @return (doc_id, keep, n_dups) for every streamed document */
  def lshDedupStream(spark: SparkSession, dir: String, checkpoint: String,
                     outPath: String, numPerms: Int, numBands: Int,
                     threshold: Double,
                     glob: String = "documents.parquet"): DataFrame = {
    import graft.dedup.Dedup
    val sess = streamSession(spark)
    val docs = globRead(sess, dir, glob)
    // the persisted dedup index, built once — every batch probes it
    val corpusSets = Dedup.shingleSets(
      docs.filter(col("doc_id") % 17 =!= 0), "doc_id", "text", 3)
    val corpusIndex = Dedup.bandedBuckets(corpusSets, numPerms, numBands)
      .stage()
    val stream = fileStream(sess, dir, glob, docs.schema)
      .filter(col("doc_id") % 17 === 0)
    catchUpEachBatch(stream, checkpoint) { (batch, _) =>
      val arrivals = batch.persist()
      try {
        val dups = Dedup.incrementalNearDupsIndexed(arrivals,
          corpusSets, corpusIndex, "doc_id", "text",
          numPerms, numBands, threshold)
          .groupBy(col("new_id").as("doc_id"))
          .agg(count(lit(1)).as("n_dups"))
        arrivals.select(col("doc_id"))
          .join(dups, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_dups").isNull.as("keep"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"))
          .write.mode("append").parquet(outPath)
      } finally arrivals.unpersist(blocking = false)
    }
    Parquet.read(sess, outPath)
  }

  // ---- the at-rest index kernels -------------------------------------------
  // One kernel per index, shared by its single stream and by
  // ingestTrioStream: constructing a kernel seeds its store
  // ([[seedStore]]: restored from a prebuilt snapshot or built from the
  // corpus slice — the same deterministic computation over the same
  // slice either way), `step` folds one persisted micro-batch in, and
  // `view` reads the final state.

  private val labelsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("comp", LongType)))
  private val reportSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_positions", LongType),
    StructField("n_dup_positions", LongType)))

  /** What one CC step grew: the batch's corpus-probe pairs (staged, so
    * counting them reads the checkpoint only) and the post-compaction
    * (file count, byte size) of the `sets` and `buckets` stores. */
  private final case class CcGrowth(probePairs: DataFrame,
                                    sets: (Long, Long),
                                    buckets: (Long, Long))

  /** The near-dup CC kernel of [[ccMaintainStream]]: the LSH index
    * (`sets` + `buckets`, grown by append) and the `labels` snapshot
    * chain under `store`, seeded with the corpus components. */
  private final class CcIndex(spark: SparkSession, store: String,
                              corpus: DataFrame, seedFrom: Option[String],
                              numPerms: Int, numBands: Int,
                              threshold: Double, maxStoreFiles: Int) {
    import graft.dedup.Dedup
    seedStore(spark, store, Seq("sets", "buckets", "labels_seed"),
        seedFrom) {
      Dedup.seedClusterStore(corpus, "doc_id", "text", numPerms, numBands,
        threshold, store)
    }
    private val seedLabels = Parquet.read(spark, s"$store/labels_seed")
    private val labelsPath = s"$store/labels"

    /** Probe the pre-growth index, grow it, commit the batch's labels,
      * then compact both index stores. None when the batch was already
      * committed (a replay after a crash before the offset commit). */
    def step(arrivals: DataFrame, batchId: Long): Option[CcGrowth] =
      commitSnapshot(spark, labelsPath, batchId, seedLabels) { base =>
        // the batch's OWN artifacts built ONCE (staged) for every
        // consumer — corpus probe, within-batch pairs, index growth;
        // three tokenize+hash passes collapsed to one
        val arrSets = Dedup.shingleSets(arrivals, "doc_id", "text", 3)
        val arrBanded = Dedup.bandedBuckets(arrSets, numPerms, numBands)
          .stage()
        // probe the CURRENT index (pre-growth: within-batch pairs come
        // from the full LSH pass over the batch instead, so nothing is
        // double-counted and nothing self-pairs). Staged EAGERLY so
        // pre-growth semantics are enforced by execution order —
        // without the materialization the probe would only run inside
        // the label write, AFTER this batch appends its own signatures
        // below, and correctness would hinge on spark.read having
        // snapshotted the file listing at analysis time (an implicit
        // InMemoryFileIndex timing assumption, not a contract)
        val cross = Dedup.incrementalNearDupsFromSets(arrSets, arrBanded,
            Parquet.read(spark, s"$store/sets"),
            Parquet.read(spark, s"$store/buckets"), threshold)
          .select(col("new_id").as("a"), col("corpus_id").as("b"))
          .stage()
        val within = Dedup.nearDupPairsFromIndex(arrSets, arrBanded,
            threshold)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        // grow the index BEFORE committing labels: a crash between the
        // two re-runs the whole batch (dup appends are absorbed), the
        // reverse order could skip growth forever
        arrSets.write.mode("append").parquet(s"$store/sets")
        arrBanded.write.mode("append").parquet(s"$store/buckets")
        (Dedup.incrementalComponents(base, "doc_id", "comp",
            cross.unionByName(within), "a", "b")
          .select(col("doc_id"), col("comp")), cross)
      }.map(cross => CcGrowth(cross,
        compactStore(spark, s"$store/sets", maxStoreFiles),
        compactStore(spark, s"$store/buckets", maxStoreFiles)))

    /** The committed (doc_id, comp) labels. */
    def view: DataFrame = latestSnapshot(spark, labelsPath, labelsSchema)
  }

  /** The exact-substring kernel of [[saMaintainStream]]: the probe
    * index (`gram_positions` membership log + `gram_stats` per-shard
    * rollups, grown by append), its `seed_report`, and the `report`
    * snapshot chain under `store`. */
  private final class SaIndex(spark: SparkSession, store: String,
                              corpus: DataFrame, seedFrom: Option[String],
                              minLen: Int, maxStoreFiles: Int) {
    import graft.text.SuffixArray
    seedStore(spark, store, Seq("gram_positions", "gram_stats",
        "seed_report"), seedFrom) {
      SuffixArray.seedProbeStore(corpus, "doc_id", "text", minLen, store)
    }
    private val seedReport = Parquet.read(spark, s"$store/seed_report")
    private val reportPath = s"$store/report"

    /** Probe, grow, compact, commit — the order of
      * [[saMaintainStream]]'s scaladoc. */
    def step(arrivals: DataFrame, batchId: Long): Unit =
      commitSnapshot(spark, reportPath, batchId, seedReport) { base =>
        // probe views that structurally exclude THIS batch's own
        // contribution (replay-safe — see saMaintainStream step 1); the
        // anti-join build side is the batch-bounded id set
        val arrIds = arrivals.select("doc_id").distinct()
        val posView = Parquet.read(spark, s"$store/gram_positions")
          .join(broadcast(arrIds), Seq("doc_id"), "left_anti")
        val statsView = Parquet.read(spark, s"$store/gram_stats")
          .filter(col("shard_id") =!= lit(batchId))
        val merged = SuffixArray.deltaDupPositions(posView, statsView,
            base, arrivals, "doc_id", "text", minLen)
          .stage() // EAGER: must probe pre-growth
        // grow the index BEFORE committing the report (a crash between
        // the two replays the batch; the appends below are excluded
        // from its re-probe, so replay is exact)
        val bg = SuffixArray.slidingGrams(arrivals, "doc_id", "text",
          minLen).stage()
        bg.write.mode("append").parquet(s"$store/gram_positions")
        bg.groupBy("gram").agg(count(lit(1)).as("n_occ"))
          .withColumn("shard_id", lit(batchId))
          .write.mode("append").parquet(s"$store/gram_stats")
        compactStore(spark, s"$store/gram_positions", maxStoreFiles)
        compactStore(spark, s"$store/gram_stats", maxStoreFiles)
        (merged, ())
      }

    /** The committed (doc_id, n_positions, n_dup_positions) report. */
    def view: DataFrame = latestSnapshot(spark, reportPath, reportSchema)
  }

  /** The IVF-assignment kernel of [[annMaintainStream]]: the frozen
    * `centroids`, the corpus `assignment` and the `assignment_delta`
    * log (grown by append) under `store`. */
  private final class AnnIndex(spark: SparkSession, store: String,
                               corpus: DataFrame, seedFrom: Option[String],
                               maxStoreFiles: Int) {
    import graft.similarity.Similarity
    seedStore(spark, store, Seq("assignment", "centroids"), seedFrom) {
      Similarity.seedIvfStore(corpus, "label", store)
    }
    private val centroids = Parquet.read(spark, s"$store/centroids")
    private val deltaPath = s"$store/assignment_delta"

    /** Append each arriving (vec_id, embedding)'s stored-index cell,
      * tagged with the batch's `shard_id`, then compact the log. */
    def step(arrivals: DataFrame, batchId: Long): Unit = {
      Similarity.assignToStoredCells(arrivals, centroids)
        .withColumn("shard_id", lit(batchId))
        .write.mode("append").parquet(deltaPath)
      compactStore(spark, deltaPath, maxStoreFiles)
    }

    /** (vec_id, cell): the stored corpus assignment ∪ the arrivals. */
    def view: DataFrame = {
      val stored = Parquet.read(spark, s"$store/assignment")
        .select(col("vec_id"), col("cell"))
      val delta = new Path(deltaPath)
      if (!delta.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(delta)) stored // no arrivals streamed
      else stored.unionByName(Parquet.read(spark, deltaPath)
        // at-least-once append absorption: frozen centroids make
        // every replay of a vec_id produce the identical cell
        .dropDuplicates("vec_id")
        .select(col("vec_id"), col("cell")))
    }
  }

  /** ONLINE dedup-cluster maintenance — the streaming deployment of
    * [[graft.dedup.Dedup.incrementalComponents]] with a GROWING index:
    * two at-rest stores, both updated per micro-batch.
    *
    *  - the LSH index (signature + banded-bucket parquet): arrivals
    *    probe it for pairs against everything already ingested, then
    *    APPEND their own signatures — so a doc arriving in batch 7
    *    pairs with one from batch 3 through the index, and no
    *    cross-batch pair is ever lost (unlike [[lshDedupStream]],
    *    whose static index defers stream-vs-stream dups by contract);
    *  - the labels table (doc_id, comp) as a versioned snapshot chain
    *    (the [[upsertStreamToTable]] idiom): each batch folds its new
    *    edges into the previous snapshot via `incrementalComponents`
    *    (label stars + new pairs — rounds bounded by the NEW chains'
    *    diameter) and commits `v_<batchId>`.
    *
    * Every pair among corpus ∪ arrivals is discovered exactly once —
    * at the later endpoint's batch, or within-batch via the full LSH
    * pass over the (small) batch — so the final snapshot equals the
    * from-scratch [[graft.dedup.Dedup.connectedComponents]] over the
    * whole corpus REGARDLESS of batch slicing (the oracle recomputes
    * exactly that). Index appends go before the label commit, so a
    * crash-replayed batch re-appends (duplicate index rows only fan
    * out the candidate join, which distincts) but never skips growth;
    * the `_SUCCESS` guard makes the label merge itself idempotent.
    * AvailableNow single-run semantics are exact.
    *
    * STATE TIERING: the index is append-per-batch by design (dedup
    * against all history needs all history), so unmanaged it
    * fragments into one small file pair per batch — the classic
    * streaming-ingest small-files problem. Each batch therefore (a)
    * records a metrics row (probe pair count, store file counts /
    * bytes) for `$storePath/metrics` — the observability a production
    * deployment alerts on — and (b) compacts either store in place
    * once it exceeds `maxStoreFiles` part files ([[compactStore]]:
    * append one coalesced copy, then delete the originals — crash-safe
    * because duplicate index rows are absorbed by the candidate
    * join's distinct, the same contract replayed batches rely on).
    * Metric rows are BUFFERED driver-side and flushed in bulk (every
    * `maxStoreFiles` batches and at stream end) rather than written
    * one tiny parquet per batch: the per-batch write job was pure
    * small-files overhead, and losing an unflushed metrics window on
    * a crash costs observability, never state. Superseded label
    * snapshots are already dropped per batch, so every store is
    * bounded: labels ≤ 1 snapshot, index AND the metrics table ≤
    * maxStoreFiles + compaction-width files each.
    *
    * @return the final labels (doc_id, comp, is_canonical) */
  def ccMaintainStream(spark: SparkSession, dir: String,
                       checkpoint: String, storePath: String,
                       numPerms: Int, numBands: Int, threshold: Double,
                       glob: String = "documents.parquet",
                       maxStoreFiles: Int = 32,
                       seedFrom: Option[String] = None): DataFrame = {
    val sess = streamSession(spark)
    val docs = globRead(sess, dir, glob)
    val cc = new CcIndex(sess, storePath,
      docs.filter(col("doc_id") % 17 =!= 0), seedFrom, numPerms, numBands,
      threshold, maxStoreFiles)
    // driver-side metrics buffer: rows accumulate per batch and flush
    // in bulk (see STATE TIERING above). foreachBatch runs batches
    // sequentially on the stream thread; the final flush happens
    // after the stream ends — synchronized for belt and braces.
    val metricBuf = new scala.collection.mutable.ArrayBuffer[
      (Long, Long, Long, Long, Long, Long)]()
    def flushMetrics(): Unit = {
      val rows = metricBuf.synchronized {
        val r = metricBuf.toList; metricBuf.clear(); r
      }
      if (rows.nonEmpty) {
        import sess.implicits._
        rows.toDF("batch_id", "n_probe_pairs", "n_sets_files",
            "sets_bytes", "n_buckets_files", "buckets_bytes")
          .coalesce(1)
          .write.mode("append").parquet(s"$storePath/metrics")
        // bulk flushes still append one file each — same cap
        compactStore(sess, s"$storePath/metrics", maxStoreFiles)
        ()
      }
    }
    val stream = fileStream(sess, dir, glob, docs.schema)
      .filter(col("doc_id") % 17 === 0)
    catchUpEachBatch(stream, checkpoint) { (batch, batchId) =>
      val arrivals = batch.persist()
      try cc.step(arrivals, batchId).foreach { g =>
        // buffer the batch's store-health row; the flush rides the
        // compaction cadence so the metrics table never costs a write
        // job per batch
        val flushDue = metricBuf.synchronized {
          metricBuf += ((batchId, g.probePairs.count(), g.sets._1,
            g.sets._2, g.buckets._1, g.buckets._2))
          metricBuf.size >= maxStoreFiles
        }
        if (flushDue) flushMetrics()
      } finally arrivals.unpersist(blocking = false)
    }
    flushMetrics() // final flush: persist whatever the cadence buffered
    cc.view.select(col("doc_id"), col("comp"),
      (col("doc_id") === col("comp")).as("is_canonical"))
  }

  /** Streaming EXACT-SUBSTRING dedup maintenance — the foreachBatch
    * form of [[graft.text.SuffixArray.deltaDupPositions]], the SA-side
    * twin of [[ccMaintainStream]]: the corpus's at-rest probe index
    * (gram membership log + per-shard stats rollups) is seeded once
    * from the corpus SA; each arriving batch then PATCHES the per-doc
    * dup report by probing the index — the corpus suffix array is
    * never rebuilt — and appends its own grams so later batches dedup
    * against everything before them.
    *
    * Per batch, in crash-safe order (all under the report version's
    * `_SUCCESS` guard, so a committed batch never re-runs):
    *
    *  1. merged report = deltaDupPositions over the CURRENT store,
    *     staged EAGERLY pre-growth (the [[ccMaintainStream]] lesson:
    *     without materialization the probe would execute after step 2
    *     appends the batch's own grams, and n_old would count the
    *     batch against itself). Replay after a crash between 2 and 3
    *     re-probes a store that already holds this batch's appends —
    *     so the probe EXCLUDES the batch's own contribution
    *     structurally: its doc ids are anti-joined out of the
    *     membership log and its `shard_id` is filtered out of the
    *     stats log, making the batch idempotent rather than
    *     absorption-dependent;
    *  2. grow the index: append the batch's [[graft.text.SuffixArray
    *     .slidingGrams]] to the membership log and their per-gram
    *     rollup (tagged `shard_id` = batchId) to the stats log, then
    *     compact both under `maxStoreFiles` ([[compactStore]] —
    *     duplicate log rows from at-least-once appends are absorbed
    *     by deltaDupPositions' probe-side dedup);
    *  3. commit the merged report as `v_<batchId>` and drop
    *     superseded versions.
    *
    * A doc's verdict depends only on the set of documents ingested
    * before or with it, so the final report is invariant under batch
    * slicing and equals the from-scratch [[graft.text.SuffixArray
    * .dupPositions]] over corpus ∪ arrivals — which is what the
    * oracle computes (StreamsSpec pins the 3-slice ≡ batch equality).
    *
    * @param seedFrom optional at-rest probe-store snapshot
    *                 ([[graft.text.SuffixArray.seedProbeStore]] of the
    *                 SAME corpus slice): when set, the deployment's
    *                 store is RESTORED by file copy — the production
    *                 "start a stream from the corpus snapshot" path —
    *                 instead of re-running the SA build here
    * @return the final merged (doc_id, n_positions, n_dup_positions) */
  def saMaintainStream(spark: SparkSession, dir: String,
                       checkpoint: String, storePath: String,
                       minLen: Int, glob: String = "documents.parquet",
                       maxStoreFiles: Int = 32,
                       seedFrom: Option[String] = None): DataFrame = {
    val sess = streamSession(spark)
    val docs = globRead(sess, dir, glob)
    val sa = new SaIndex(sess, storePath,
      docs.filter(col("doc_id") % 17 =!= 0), seedFrom, minLen,
      maxStoreFiles)
    val stream = fileStream(sess, dir, glob, docs.schema)
      .filter(col("doc_id") % 17 === 0)
    catchUpEachBatch(stream, checkpoint) { (batch, batchId) =>
      val arrivals = batch.persist()
      try sa.step(arrivals, batchId)
      finally arrivals.unpersist(blocking = false)
    }
    sa.view
  }

  /** Streaming IVF-ASSIGNMENT maintenance — the ANN-side member of the
    * at-rest index-maintenance trio ([[ccMaintainStream]] for near-dup
    * CC, [[saMaintainStream]] for exact substrings, this for the
    * vector index): arriving vectors get the cell id the STORED index
    * would give them ([[graft.similarity.Similarity.assignToStoredCells]]
    * against the snapshot's frozen centroid table) and are appended to
    * the assignment log — the corpus is never re-scanned, the
    * quantizer never retrained per batch (retrain is a snapshot-time
    * job, triggered when [[graft.similarity.Similarity.ivfHealth]]'s
    * drift report trips — the standard IVF ingest contract).
    *
    * Per batch: one |cells|-row centroid broadcast + one scan of the
    * batch (|batch|·|cells| distance math, scan-local), one append,
    * and [[compactStore]] keeps the growing log under `maxStoreFiles`.
    * Appends are at-least-once on crash replay; each appended row
    * carries its batch's `shard_id` and the read side keeps one row
    * per vec_id (frozen centroids make every replay produce the
    * identical cell, so dedup-on-read absorbs duplicates exactly —
    * the [[saMaintainStream]] gram-log convention).
    *
    * A vector's cell depends only on itself and the frozen snapshot,
    * so the final merged view is invariant under batch slicing and
    * equals the one-shot [[graft.similarity.Similarity.assignToCells]]
    * batch run — which is what the oracle recomputes (StreamsSpec pins
    * the 3-slice ≡ batch equality).
    *
    * Precondition (the [[graft.text.SuffixArray.deltaDupPositions]]
    * convention): arrival vec_ids are DISJOINT from the stored
    * assignment's — a re-ingest arrives under a new id. A repeated id
    * across batches is only exact when its embedding is unchanged
    * (dedup-on-read keeps one row; frozen centroids make the cell
    * identical); a changed embedding under an old id is an UPDATE,
    * which belongs to the snapshot rebuild, not the append log.
    *
    * @param seedFrom optional at-rest IVF snapshot
    *                 ([[graft.similarity.Similarity.seedIvfStore]] of
    *                 the SAME corpus slice): when set, the deployment's
    *                 store is RESTORED by file copy — the production
    *                 "start a stream from the index snapshot" path —
    *                 instead of re-deriving centroids here
    * @return the merged (vec_id, cell) view — stored corpus
    *         assignment ∪ streamed arrivals */
  def annMaintainStream(spark: SparkSession, dir: String,
                        checkpoint: String, storePath: String,
                        glob: String = "embeddings.parquet",
                        maxStoreFiles: Int = 32,
                        seedFrom: Option[String] = None): DataFrame = {
    val sess = streamSession(spark)
    val emb = globRead(sess, dir, glob)
    val ann = new AnnIndex(sess, storePath,
      emb.filter(col("vec_id") % 9 =!= 0), seedFrom, maxStoreFiles)
    val stream = fileStream(sess, dir, glob, emb.schema)
      .filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    catchUpEachBatch(stream, checkpoint)(ann.step)
    ann.view
  }

  /** UNIFIED ingest topology — ONE arrivals stream whose foreachBatch
    * maintains the whole at-rest index trio TOGETHER: near-dup CC
    * labels ([[ccMaintainStream]]'s kernel), the exact-substring dup
    * report ([[saMaintainStream]]'s), and the IVF assignment log
    * ([[annMaintainStream]]'s). This is the shape a production
    * pipeline actually runs: a document arrives ONCE (its text, plus
    * its embedding joined from the static vector table on
    * doc_id = vec_id — 1:1 in the testdata) and every index observes
    * it in the SAME micro-batch, so at any batch boundary the three
    * artifacts describe the SAME ingested prefix — the cross-index
    * consistency three separate streams cannot pin (one could be a
    * batch ahead of another).
    *
    * Store layout: `cc/{sets,buckets,labels_seed,labels}`,
    * `sa/{gram_positions,gram_stats,seed_report,report}`,
    * `ann/{assignment,centroids,assignment_delta}` — each exactly its
    * single-stream counterpart's, so every at-rest consumer (the
    * incremental probes, [[graft.similarity.Similarity
    * .rebuildIvfStore]], the decontamination passes) reads a trio
    * store unchanged.
    *
    * Each batch runs the three single streams' own per-batch steps —
    * the same [[CcIndex]], [[SaIndex]] and [[AnnIndex]] kernels, not
    * copies — so the trio's crash safety is theirs, in this order: the
    * ANN append first (absorbable: frozen centroids, dedup-on-read),
    * then CC index growth before its guarded label commit (duplicate
    * appends are absorbed by the candidate join's distinct), then the
    * SA probe, staged before growth with the batch's own rows
    * excluded, so replay is exact. All three final states are
    * batch-slicing-invariant, so
    * the merged view equals the from-scratch batch computation over
    * corpus ∪ arrivals (StreamsSpec pins 3-slice ≡ batch for ALL
    * THREE artifacts out of one run; the oracle recomputes the same).
    *
    * The corpus/arrival split is ONE rule across the trio — doc_id
    * (= vec_id) % 17 — so ids are disjoint between the stored
    * assignment and arrivals by construction (the
    * [[annMaintainStream]] precondition, satisfied without re-keying).
    *
    * @return one row per document: (doc_id, comp, n_positions,
    *         n_dup_positions, cell) — the CC label (own id when
    *         unclustered), the SA dup report, and the IVF cell */
  def ingestTrioStream(spark: SparkSession, dir: String,
                       checkpoint: String, storePath: String,
                       numPerms: Int, numBands: Int, threshold: Double,
                       minLen: Int,
                       glob: String = "documents.parquet",
                       embPath: Option[String] = None,
                       maxStoreFiles: Int = 32,
                       ccSeedFrom: Option[String] = None,
                       saSeedFrom: Option[String] = None,
                       annSeedFrom: Option[String] = None): DataFrame = {
    val sess = streamSession(spark)
    val docs = globRead(sess, dir, glob)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val emb = Parquet.read(sess,
      embPath.getOrElse(s"$dir/embeddings.parquet"))
    val cc = new CcIndex(sess, s"$storePath/cc", corpus, ccSeedFrom,
      numPerms, numBands, threshold, maxStoreFiles)
    val sa = new SaIndex(sess, s"$storePath/sa", corpus, saSeedFrom,
      minLen, maxStoreFiles)
    val ann = new AnnIndex(sess, s"$storePath/ann",
      emb.filter(col("vec_id") % 17 =!= 0), annSeedFrom, maxStoreFiles)
    val vectors = emb.select(col("vec_id"), col("embedding"))
    val stream = fileStream(sess, dir, glob, docs.schema)
      .filter(col("doc_id") % 17 === 0)
    catchUpEachBatch(stream, checkpoint) { (batch, batchId) =>
      val arrivals = batch.persist()
      try {
        ann.step(arrivals.select(col("doc_id").as("vec_id"))
          .join(vectors, "vec_id"), batchId)
        cc.step(arrivals, batchId)
        sa.step(arrivals, batchId)
      } finally arrivals.unpersist(blocking = false)
    }
    // ---- the consistent cross-index view ----
    val labels = cc.view
    sa.view
      .join(ann.view.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"),
        col("n_positions"), col("n_dup_positions"), col("cell"))
  }

  /** Batch sessionization (gaps-and-islands): a new session starts when
    * the gap to the previous event of the same user exceeds `gapMinutes`.
    * One shuffle by user + one ordered scan — the exact shape of W1's
    * running counter, reused on event-time. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") >
            gapMinutes * 60L, 1).otherwise(0))
      .withColumn("session_no", sum(col("is_new")).over(wRun))
      .groupBy("user_id", "session_no")
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .drop("session_no")
  }

  /** THE session-cut fold, shared by the fMGWS and transformWithState
    * implementations so the two stateful APIs are provably computing
    * the same thing: sort the key's events by event time (nanos
    * tie-break), cut when the floor-seconds gap exceeds `gapSec`, and
    * flush the trailing OPEN session too — the single-drain-batch
    * contract both streaming callers operate under (each key sees all
    * its events in one invocation; see their scaladocs). */
  private def foldSessions(userId: Long, evs: Iterator[SessionEvent],
                           prior: Option[SessionState], gapSec: Long)
  : List[Session] = {
    def flush(st: SessionState): Session =
      Session(userId, st.start, st.n, st.sumCents / 100.0)
    def cents(v: Double): Long = math.round(v * 100.0)
    val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos))
    var out = List.empty[Session]
    var cur = prior
    sorted.foreach { e =>
      val sec = Math.floorDiv(e.ts.getTime, 1000L)
      cur match {
        case Some(st) if sec - st.lastSec <= gapSec =>
          cur = Some(st.copy(lastSec = sec, n = st.n + 1,
            sumCents = st.sumCents + cents(e.value)))
        case Some(st) =>
          out ::= flush(st)
          cur = Some(SessionState(e.ts, sec, 1, cents(e.value)))
        case None =>
          cur = Some(SessionState(e.ts, sec, 1, cents(e.value)))
      }
    }
    cur.foreach(st => out ::= flush(st))
    out.reverse
  }

  /** The events table as a typed stream — the ONE place the nanos→micros
    * conversion and file-glob live, so the fMGWS and TWS sessionizers
    * cannot drift in input preparation (the step the three-way equality
    * spec does not isolate). */
  private def sessionEventStream(sess: SparkSession, dir: String)
  : Dataset[SessionEvent] = {
    import sess.implicits._
    val schema = Parquet.read(sess, s"$dir/events.parquet").schema
    normalizeTs(sess.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessionEvent]
  }

  /** Streaming sessionization via `flatMapGroupsWithState` — the custom-
    * state rung of the streaming surface (SURVEY.md §2.9 extension). State
    * per user is O(1) (current session accumulator); sessions emit when a
    * gap-exceeding event arrives, and every open session flushes at the
    * end of the catchup invocation.
    *
    * SCOPE: this is the CATCHUP form — it treats the available data as
    * complete, which is exactly the reference's backfill semantic, and it
    * requires each user's full history in one invocation (guaranteed here:
    * the events table is one file, so Trigger.AvailableNow delivers one
    * micro-batch). A perpetual stream must instead hold the open session
    * in state across batches and flush on an event-time timeout — and
    * then sessions still inside the watermark at shutdown are
    * unemittable BY DESIGN (they might yet grow; the built-in
    * `session_window` aggregation has the same property). Equality with
    * `sessionizeBatch` is tested in SessionizeSpec.
    */
  def sessionizeStream(spark: SparkSession, dir: String, checkpoint: String,
                       gapMinutes: Int): DataFrame = {
    val sess = statefulSession(spark, dir, "events.parquet")
    import sess.implicits._
    val gapSec = gapMinutes * 60L

    val sessions = sessionEventStream(sess, dir)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId, evs, state: GroupState[SessionState]) =>
          // AvailableNow on a static file: each group sees all its events
          // in one invocation; sort by event time and cut on gaps.
          val out = foldSessions(userId, evs, state.getOption, gapSec)
          state.remove()
          out.iterator
      }

    catchUpToMemory(sessions.toDF(), checkpoint, "append")
  }

  case class StepEvent(user_id: Long, ts: java.sql.Timestamp,
                       event_id: Long, event_type: String)
  case class LastEvent(millis: Long, nanos: Int, event_id: Long,
                       event_type: String)
  case class Step(from_type: String, to_type: String)

  /** Streaming Markov transitions: the incremental twin of
    * [[graft.ops.timeseries.transitionMatrix]]. Per-user
    * `flatMapGroupsWithState` holds ONE row of state (the user's last
    * event) and emits a (from, to) step per arriving event — so the
    * transition COUNTS accumulate incrementally across micro-batches,
    * including the step that straddles a batch boundary (the part a
    * stateless per-batch lead() would drop). Probabilities are a
    * read-time view over the counts, like [[topKStream]]'s ranking —
    * P(to|from) isn't incremental-safe, counts are.
    *
    * Within an invocation events sort by (event-time millis, nanos,
    * event_id) — exactly the batch operator's (ts, tie) order, so
    * stream ≡ batch (StreamsSpec).
    *
    * @return (from_type, to_type, c, p_micro)
    */
  def markovStream(spark: SparkSession, dir: String, checkpoint: String,
                   glob: String = "events.parquet"): DataFrame = {
    val sess = statefulSession(spark, dir, glob)
    import sess.implicits._
    val steps = normalizeTs(fileStream(sess, dir, glob))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[StepEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Step](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, evs, state: GroupState[LastEvent]) =>
          val sorted = evs.toSeq.sortBy(e =>
            (e.ts.getTime, e.ts.getNanos, e.event_id))
          val types = state.getOption.map(_.event_type).toSeq ++
            sorted.map(_.event_type)
          val out = types.sliding(2).collect {
            case Seq(a, b) => Step(a, b)
          }.toList
          sorted.lastOption.foreach(e => state.update(LastEvent(
            e.ts.getTime, e.ts.getNanos, e.event_id, e.event_type)))
          out.iterator
      }

    // read-time view: per-from totals as a window sum over the counts
    // (a counts⋈totals self-join over the SAME memory-sink relation
    // hits Catalyst's conflicting-attribute check — and the window
    // reuses the groupBy's hash partitioning, so it costs no shuffle)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy("from_type")
    catchUpToMemory(steps.toDF(), checkpoint, "append")
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(wTot))
      .select(col("from_type"), col("to_type"), col("c"),
        expr("(c * 1000000L) div tot").as("p_micro"))
  }

  /** The same sessionization on Spark 4's `transformWithState` — the
    * current-generation arbitrary-state API (typed state variables with
    * optional TTL, timers, multiple states per key) that supersedes
    * `flatMapGroupsWithState`. Semantically identical to
    * [[sessionizeStream]]: both run the shared [[foldSessions]], and
    * `SessionizeSpec` asserts all three implementations (batch windows,
    * fMGWS, TWS) produce equal results.
    *
    * SCOPE: like the fMGWS version, this operates under the
    * single-drain-batch contract — AvailableNow over the static table
    * delivers each key's events in one invocation, so the trailing open
    * session is flushed and state never outlives the batch (hence
    * `TTLConfig.NONE` and no `update` call). A continuously-running
    * deployment needs the event-time-timer shape instead: watermark the
    * stream, `update` the open session, register a timer at
    * lastSec + gap, and emit from `handleExpiredTimer` — the API used
    * here supports all of it; this query deliberately keeps the
    * batch-parity contract so it can share the batch oracle.
    *
    * TWS requires the RocksDB state store provider — also the right
    * choice at scale (state lives off-heap per partition). */
  def sessionizeStreamTws(spark: SparkSession, dir: String,
                          checkpoint: String, gapMinutes: Int)
  : DataFrame = {
    // state partitions follow the input's splits (see statefulSession):
    // each one opens its own RocksDB instance, whose init dominates at
    // small state; results are partition-count-independent (per-key
    // fold)
    val sess = statefulSession(spark, dir, "events.parquet",
      rocksDb = true)
    import sess.implicits._

    val sessions = sessionEventStream(sess, dir)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60L),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())

    catchUpToMemory(sessions.toDF(), checkpoint, "append")
  }

  /** Per-user session folder for [[sessionizeStreamTws]]: one
    * `ValueState[SessionState]` per key around the shared
    * [[foldSessions]]. Under the single-drain-batch contract the state
    * read always misses and the fold's trailing flush makes `clear` the
    * only write — see [[sessionizeStreamTws]] for the timer-based shape
    * a continuous deployment would use instead. */
  private class SessionProcessor(gapSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessionEvent, Session] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
    : Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(userId: Long,
        rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
    : Iterator[Session] = {
      val prior = if (st.exists()) Some(st.get()) else None
      val out = foldSessions(userId, rows, prior, gapSec)
      st.clear()
      out.iterator
    }
  }
}
