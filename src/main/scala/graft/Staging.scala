package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every frame the engine materializes, caches or spreads goes through
  * here: [[Staging.StageOps.stage]] cuts lineage, [[Staging.pinned]]
  * caches a frame for one loop or micro-batch, [[Staging.spread]]
  * redistributes an under-partitioned frame, and [[Staging.releaseAll]]
  * drops what a finished query left cached or staged.
  *
  * Every iterative operator in the engine (PageRank rounds, connected
  * components, BPE merges, k-means) and every shared staged subtree needs
  * its frame MATERIALIZED once — re-reading lineage would recompute the
  * whole upstream per consumer, and an iterative plan grows without a cut.
  * The wrong primitive at cluster scale is `localCheckpoint()` alone: its
  * blocks live in executor storage, so losing ONE executor makes every
  * dependent job unrecoverable ("its lineage has been truncated and cannot
  * be recomputed") — a 40-iteration PageRank on 1000 executors would
  * almost surely die. The right primitive depends on deployment, so
  * `stage` picks at runtime:
  *
  *  - a checkpoint directory IS configured
  *    (`SparkContext.setCheckpointDir`, i.e. a real cluster with durable
  *    storage) → reliable `checkpoint()`: blocks go to the fault-tolerant
  *    store, executor loss just re-reads them;
  *  - no checkpoint directory (local runs, tests, the bench) →
  *    `localCheckpoint()`: executor-local blocks, no filesystem round
  *    trip — strictly faster, and single-JVM local mode has no executor
  *    to lose.
  *
  * Both forms are EAGER (materialize now) and cut lineage identically, so
  * results are bit-identical either way — `StagingSpec` proves it by
  * running PageRank and connected components under both modes.
  */
object Staging {
  implicit class StageOps(private val df: DataFrame) extends AnyVal {
    /** Materialize `df` now and cut its lineage: reliable `checkpoint()`
      * when the session has a checkpoint dir, `localCheckpoint()`
      * otherwise. See [[Staging]] for the cluster-scale rationale.
      *
      * The reliable path deliberately does NOT persist-before-checkpoint
      * (RDD.checkpoint's scaladoc suggestion): the checkpoint-write job
      * does re-run the plan, but recomputation rides SHUFFLE-FILE REUSE
      * — only the final post-shuffle stage re-executes, which for the
      * staged frames here (all shuffle- or broadcast-rooted) is a thin
      * map pass — while a persist pays full cache serialization of the
      * frame first. Measured on the 50M trade-graph smoke: bare
      * checkpoint 16.3 s vs persist-first 19.7 s. A caller staging an
      * expensive SCAN-rooted subtree (no shuffle to reuse) should
      * stage it inside [[Staging.pinned]]. Deployments should also set
      * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
      * superseded per-iteration checkpoints are deleted when their
      * frames are garbage-collected; without it, reliable checkpoint
      * data accumulates for the application's lifetime (Spark never
      * cleans it by default). */
    def stage(): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint()
      else df.localCheckpoint()
  }

  /** [[StageOps.stage]] with piggybacked metrics: the given aggregate
    * columns ride the checkpoint's OWN materialization job as an
    * `observe()`, so iterative loops read their convergence checksums /
    * sink sums without a separate aggregation scan per round (at 100 TB
    * that extra scan per iteration is a whole pass over the state
    * frame). Both staging modes complete observations — checkpoint and
    * localCheckpoint each run through a query action. Returns the
    * staged frame plus the observed metric row keyed by alias. */
  def stageObserved(df: DataFrame, metrics: org.apache.spark.sql.Column*)
  : (DataFrame, Map[String, Any]) = {
    require(metrics.nonEmpty, "stageObserved needs at least one metric")
    val obs = org.apache.spark.sql.Observation()
    val staged = df.observe(obs, metrics.head, metrics.tail: _*).stage()
    (staged, obs.get)
  }

  /** Persist `df`, run `body` on it, and unpersist it on every exit, a
    * thrown error included: the one place the engine caches a frame.
    *
    * Pin or stage: an E-row frame joined on the same key every round is
    * pinned, and everything else is staged. A staged frame reads back as
    * `Scan ExistingRDD` with `UnknownPartitioning(0)` — the checkpoint
    * drops the partitioning, so a `repartition(k)` before `stage()`
    * spares no later exchange on `k`. A pinned `repartition(k)` frame
    * keeps it: the rounds join it on `k` with no Exchange above its
    * `InMemoryTableScan`, shuffling only the node-sized side (Spark 4.1,
    * AQE on, mid-loop plans at sf0.1). The caller repartitions, since a
    * frame may arrive partitioned already. A micro-batch that two writes
    * read is pinned too, so its source files are read once.
    *
    * `body` must not `return` from the enclosing method: Scala 2.13
    * throws that return through the loan as a `NonLocalReturnControl`. */
  def pinned[A](df: DataFrame)(body: DataFrame => A): A = {
    val p = df.persist()
    try body(p)
    finally p.unpersist()
  }

  /** Spread an under-partitioned frame across the cluster's cores —
    * the guard every compute-heavy scan-local pass needs in front of a
    * small/staged source that arrives as ONE scan partition (single
    * parquet row group): without it the whole pass serializes on one
    * core. A no-op at lake scale, where partitions ≥ cores. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Drop every cached frame and staged block in the session: the reset
    * between two queries of a sequential run (Bench, Verify). Left in
    * place, localCheckpoint blocks (dedup sets, CC labels) and cached
    * frames pin JVM memory across the whole run, and the accumulated
    * heap pressure GC-stalls whatever runs late (q_unpivot hit 18 s
    * under it). Nothing re-reads a finished query's plan, so dropping
    * the blocks is safe. */
  private[graft] def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }
}
