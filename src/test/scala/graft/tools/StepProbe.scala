package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Throwaway: does the per-step walk join re-exchange the persisted
  * adjacency? */
object StepProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Session()
    import graft.Staging.StageOps
    val edges = ExtensionQueries.symAdjacency(spark, d)
    val e = edges.select(col("src"), col("dst")).distinct()
    val adj = e.withColumn("rk",
        row_number().over(
          Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .select(col("src").as("a_src"), col("rk").cast("long").as("a_rk"),
        col("dst").as("a_dst"))
      .persist()
    adj.count()
    val frontier = e.select(col("src").as("start")).distinct()
      .select(col("start"), lit(0L).as("walk"), col("start").as("node"))
      .stage()
    val deg = adj.groupBy(col("a_src").as("d_src"))
      .agg(count(lit(1)).as("deg")).stage()
    val step = frontier
      .join(deg, col("node") === col("d_src"))
      .withColumn("pick",
        conv(substring(md5(concat_ws("|", col("start"), col("walk"),
          lit(1))), 1, 8), 16, 10).cast("long") % col("deg"))
      .join(adj, col("node") === col("a_src") &&
        col("pick") === col("a_rk"))
      .select(col("start"), col("walk"), col("a_dst").as("node"))
    step.explain("formatted")
    spark.stop()
  }
}
