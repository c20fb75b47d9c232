package graft.functions

import org.apache.spark.sql.functions._

import graft.ArtifactStore.scratch
import graft.SparkSpec
import graft.sources.Layout

/** Morton key correctness plus the layout property it exists for: a
  * z-order-clustered write makes min-max file skipping effective on the
  * SECOND dimension, where a linear sort on the first dimension leaves
  * every file overlapping. */
class ZOrderSpec extends SparkSpec {

  test("interleave matches hand-computed Morton codes") {
    // x=5 (101), y=3 (011), 3 bits: z bits are y2 x2 y1 x1 y0 x0 =
    // 0 1 1 0 1 1 = 27
    assert(ZOrderKey.interleave(5L, 3L, 3) === 27L)
    assert(ZOrderKey.interleave(3L, 0L, 2) === 5L)   // 0101
    assert(ZOrderKey.interleave(0L, 3L, 2) === 10L)  // 1010
    assert(ZOrderKey.interleave(0L, 0L, 8) === 0L)
    // values beyond the bit width are masked, not corrupted
    assert(ZOrderKey.interleave((1L << 40) | 5L, 3L, 3) === 27L)
    // full-width max: all 62 bits set
    assert(ZOrderKey.interleave((1L << 31) - 1, (1L << 31) - 1, 31) ===
      (1L << 62) - 1)
  }

  test("SQL function rejects out-of-range bits at analysis time") {
    val df = spark.range(1).selectExpr("id x", "id y")
    val e = intercept[Exception] {
      df.selectExpr("graft_zorder(x, y, 40)").collect()
    }
    assert(e.getMessage.contains("bits"))
  }

  test("z-clustered layout skips files on the second dimension") {
    // uniform 256×256 grid; 16 files of ~4096 rows each. A linear
    // x-sorted layout gives every file the full y range (no file is
    // skippable for a y predicate); the z-ordered layout confines each
    // file to a compact tile, so a narrow y band prunes most files.
    val grid = spark.range(65536L)
      .selectExpr("id % 256 as x", "id div 256 as y")
    val zPath = scratch(spark, "graft_zorder")
    val linPath = scratch(spark, "graft_linear")
    Layout.zorderWrite(grid, "x", "y", bits = 8, numFiles = 16, zPath)
    Layout.linearWrite(grid, "x", numFiles = 16, linPath)

    val zHit = Layout.filesOverlapping(spark, zPath, "y", 100L, 107L)
    val linHit = Layout.filesOverlapping(spark, linPath, "y", 100L, 107L)

    assert(linHit === 16, "x-sorted files all span the full y range")
    // exact tiling gives 4/16; range-boundary wobble allows a bit more
    assert(zHit <= 7, s"z-order should prune most files, read $zHit/16")

    // the clustered table still holds exactly the input data
    val back = spark.read.parquet(zPath)
    assert(back.count() === 65536L)
    assert(back.agg(sum(col("x") + col("y") * 256)).head().getLong(0) ===
      grid.agg(sum(col("x") + col("y") * 256)).head().getLong(0))
  }

  test("compact rewrites a fragmented table into few bounded files") {
    val data = spark.range(200000L)
      .selectExpr("id", "id % 97 as k", "cast(id as string) as pad")
    val fragPath = scratch(spark, "graft_frag")
    val outPath = scratch(spark, "graft_compacted")
    data.repartition(64).write.mode("overwrite").parquet(fragPath)

    val (before, after) =
      Layout.compact(spark, fragPath, outPath, targetBytes = 512L * 1024)

    assert(before === 64)
    assert(after < 16, s"64 micro-files should compact to a few, got $after")
    // ceil(bytes/target) is honored: re-listing agrees with the plan
    val fs = new org.apache.hadoop.fs.Path(fragPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(new org.apache.hadoop.fs.Path(fragPath))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    assert(after === ((totalBytes + 512L * 1024 - 1) / (512L * 1024)).toInt)

    // content-preserving: same rows, nothing lost or duplicated
    val back = spark.read.parquet(outPath)
    assert(back.count() === 200000L)
    assert(back.agg(sum(col("id"))).head().getLong(0) ===
      data.agg(sum(col("id"))).head().getLong(0))
    assert(back.select("id").distinct().count() === 200000L)
  }
}
