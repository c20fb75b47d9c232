package graft

import org.apache.spark.sql.DataFrame

import graft.ArtifactStore.scratch
import graft.Staging._
import graft.dedup.Dedup
import graft.graph.Graph

/** Pins the deployment contract of [[Staging.stage]]: with no checkpoint
  * dir it is `localCheckpoint` (fast, executor-local — the local-mode and
  * bench default), with a configured dir it is a RELIABLE `checkpoint`
  * (blocks in durable storage — the real-cluster mode, where executor
  * loss must not kill a 40-iteration PageRank). Both cut lineage and
  * materialize eagerly, so every iterative operator must return
  * bit-identical results under either mode. */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
    (6L, 7L), (7L, 6L)
  ).toDF("src", "dst")

  private def withCheckpointDir[A](body: => A): A = {
    spark.sparkContext.setCheckpointDir(scratch(spark, "graft_ckpt"))
    // the session is shared across suites — restore local mode after
    // (setCheckpointDir(null) maps to None via Option(directory))
    try body
    finally spark.sparkContext.setCheckpointDir(null)
  }

  private def collectSorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector
      .sortBy(_.mkString("|"))

  test("stage() routes by checkpoint-dir presence and is bit-identical " +
    "for PageRank and connected components") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    // local mode first: stage() == localCheckpoint
    val prLocal = collectSorted(
      Graph.pageRank(edges, "src", "dst", iterations = 4))
    val ccLocal = collectSorted(
      Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b"))
    edges.stage().count()

    withCheckpointDir {
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined)
      edges.stage().count()
      val files = new java.io.File(new java.net.URI(dir.get)).listFiles()
      assert(files != null && files.nonEmpty,
        "checkpoint dir set → reliable checkpoint files on disk")
      val prReliable = collectSorted(
        Graph.pageRank(edges, "src", "dst", iterations = 4))
      val ccReliable = collectSorted(
        Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b"))
      assert(prReliable === prLocal)
      assert(ccReliable === ccLocal)
    }
  }

  test("stageObserved: metrics complete under BOTH staging modes") {
    // the iterative loops read their convergence checksums from the
    // staging action's own observation — that contract must hold for
    // localCheckpoint AND reliable checkpoint, or a cluster deploy
    // would block forever on Observation.get
    import org.apache.spark.sql.functions._
    def run(): (Long, java.math.BigDecimal) = {
      val (staged, row) = Staging.stageObserved(
        spark.range(1000).toDF("x"),
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("x")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("ck"))
      assert(staged.count() === 1000L)
      (row("n").asInstanceOf[Long],
        row("ck").asInstanceOf[java.math.BigDecimal])
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val (nL, ckL) = run()
    val (nR, ckR) = withCheckpointDir(run())
    assert(nL === 1000L && nR === 1000L)
    assert(ckL === ckR, "checksum metric must be mode-independent")
  }

  test("pinned returns the body's value and caches the frame only " +
    "inside the body") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val df = spark.range(100).toDF("x")
    val got = Staging.pinned(df) { p =>
      assert(!cache.isEmpty, "the frame is cached inside the body")
      p.count()
    }
    assert(got === 100L)
    assert(cache.isEmpty, "pinned left its frame cached")
  }

  test("pinned releases its frame when the body throws, and the error " +
    "propagates") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val ex = intercept[IllegalStateException] {
      Staging.pinned(spark.range(10).toDF("x")) { p =>
        p.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage === "boom")
    assert(cache.isEmpty, "pinned leaked its frame when the body threw")
  }

  test("nested pins release both frames") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val n = Staging.pinned(spark.range(10).toDF("a")) { a =>
      Staging.pinned(spark.range(20).toDF("b")) { b =>
        a.crossJoin(b).count()
      }
    }
    assert(n === 200L)
    assert(cache.isEmpty, "a nested pin leaked a frame")
  }
}
