package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: z-order clustering for write-time file
  * organization. The companion to bucketing (join locality) and
  * partitionBy (coarse pruning): z-ordering gives RANGE-PREDICATE
  * locality on several columns at once, which parquet min-max stats then
  * turn into file/row-group skipping.
  */
object Layout {

  /** Write `df` clustered by the z-order of two bucketed dimensions.
    * `repartitionByRange` on the key splits the curve into `numFiles`
    * contiguous segments (each task writes one file covering a compact
    * z-range), and the within-partition sort tightens row-group stats.
    * Both steps are plain shuffle/sort — no driver-side data movement,
    * so the write scales with cluster width. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, bits: Int,
                  numFiles: Int, path: String): Unit =
    df.withColumn("__z",
        call_function("graft_zorder",
          col(xCol).cast("long"), col(yCol).cast("long"), lit(bits)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Linear baseline: same file count, sorted by the first dimension
    * only (what a naive ORDER BY write produces). */
  def linearWrite(df: DataFrame, xCol: String, numFiles: Int,
                  path: String): Unit =
    df.repartitionByRange(numFiles, col(xCol))
      .sortWithinPartitions(col(xCol))
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetBytes` each — the maintenance pass every streaming or
    * incremental sink needs, because a 100 TB table accreted in
    * per-micro-batch files pays its file count on EVERY read (one footer
    * fetch + one scheduler task per file; a million 100 KB files cost
    * more to plan than to scan).
    *
    * File count = ceil(on-disk bytes / targetBytes), from one FS listing
    * — metadata only, no data read. The rewrite is a single
    * `repartition` (round-robin, so output files are uniformly sized)
    * executed by the cluster; the driver never touches row data. Parquet
    * re-encodes per output file, so post-compaction bytes/file can drift
    * from `targetBytes` by the compression delta — callers wanting exact
    * sizing set `maxRecordsPerFile` instead; this op optimizes for file
    * COUNT, the planning-cost lever.
    *
    * @return (file count before, file count after) */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing: a partitioned layout nests its files under
    // key=value dirs — a top-level listStatus would see only
    // directories, size the table at 0 bytes, and collapse a multi-GB
    // table into ONE output file
    def parquetFiles(p: org.apache.hadoop.fs.Path)
    : Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) parquetFiles(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    val parts = parquetFiles(new org.apache.hadoop.fs.Path(inPath))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .toInt
    Parquet.read(spark, inPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    val after = parquetFiles(new org.apache.hadoop.fs.Path(outPath)).size
    (parts.length, after)
  }

  /** Count the files a range predicate must read under min-max skipping:
    * a file is skippable iff its [min, max] on the predicate column
    * misses the range — the same decision parquet row-group pruning
    * makes from footer stats. Used by specs to measure layout quality;
    * scans each file's single column once. */
  def filesOverlapping(spark: SparkSession, path: String, column: String,
                       lo: Long, hi: Long): Int = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    files.count { f =>
      val mm = Parquet.read(spark, f)
        .agg(min(col(column)).cast("long"), max(col(column)).cast("long"))
        .head()
      !mm.isNullAt(0) && mm.getLong(0) <= hi && mm.getLong(1) >= lo
    }
  }
}
