package graft

import graft.Staging._
import org.apache.spark.sql.SparkSession

/** Dev tool: run a single named query, print timing and optionally the
  * formatted physical plan. Usage: runMain graft.RunOne <name> [sfDir]
  * [explain]. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    val spark = Session()

    // dissection helpers for profiling composite pipelines
    val extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "_mh_units" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "documents").select(col("doc_id"),
          explode(graft.text.Text.shingles(
            graft.text.Text.tokens(col("text")), 3)).as("u"))
      }),
      "_mh_sig" -> ((s, d) => graft.dedup.Dedup.minhashSignatures(
        Tables.t(s, d, "documents"), "doc_id", "text", 8)),
      "_mh_buckets" -> ((s, d) => graft.dedup.Dedup.lshBuckets(
        graft.dedup.Dedup.minhashSignatures(
          Tables.t(s, d, "documents"), "doc_id", "text", 8), 4, 8)),
      "_mh_cand" -> ((s, d) => graft.dedup.Dedup.lshCandidates(
        graft.dedup.Dedup.lshBuckets(
          graft.dedup.Dedup.minhashSignatures(
            Tables.t(s, d, "documents"), "doc_id", "text", 8), 4, 8))),
      "_ng_staged" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        Tables.t(s, d, "documents").select(col("doc_id"),
          array_sort(graft.text.Text.shingles(
            graft.text.Text.tokens(col("text")), 3)).as("grams"))
          .filter(size(col("grams")) > 0)
      }),
      "_ng_cand" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        val staged = Tables.t(s, d, "documents").select(col("doc_id"),
          array_sort(graft.text.Text.shingles(
            graft.text.Text.tokens(col("text")), 3)).as("grams"))
          .filter(size(col("grams")) > 0)
          .stage()
        val prefLen = (size(col("grams")) -
          ceil(lit(0.5) * size(col("grams"))) + 1).cast("int")
        val pref = staged.select(col("doc_id"),
          explode(slice(col("grams"), lit(1), prefLen)).as("g"))
        pref.select(col("g"), col("doc_id").as("doc_a"))
          .join(pref.select(col("g"), col("doc_id").as("doc_b")), Seq("g"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
          .distinct()
      }),
      // SA-build dissection: the prefix-doubling ranks alone, and the
      // full SA without the final presentation sort
      "_sa_ranks" -> ((s, d) => graft.text.SuffixArray.ranks(
        Tables.t(s, d, "documents"), "doc_id", "text")),
      "_sa_noorder" -> ((s, d) => graft.text.SuffixArray.suffixArray(
        Tables.t(s, d, "documents"), "doc_id", "text")),
      "_sh_fps" -> ((s, d) => graft.dedup.Dedup.simhash(
        Tables.t(s, d, "documents"), "doc_id", "text", 16)),
      "_sh_cand" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        val fps = graft.dedup.Dedup.simhash(
          Tables.t(s, d, "documents"), "doc_id", "text", 16)
          .stage()
        graft.dedup.Dedup.bandedHammingPairs(fps, "doc_id", "simhash",
          16, 3)
      })
    )
    val fn = SparkEntry.queries.getOrElse(name, extra(name))
    if (doExplain) fn(spark, sfDir).explain("formatted")
    // two timed runs: first includes planning+codegen, second is warm
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[runone] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
