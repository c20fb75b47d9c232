package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (test scope — ships nowhere): dump the PER-ROUND / PER-STEP
  * physical plans of the iterative operators, which the top-level
  * `explain` cannot show (each round reads the previous round's
  * checkpoint, so the committed query plan is only the post-last-
  * checkpoint tail). Usage:
  *
  *   sbt "Test/runMain graft.PlanProbe <which> [sfDir]"
  *
  * where <which> ∈ walks | sa | sa_round | hits | labelprop. Prints the
  * formatted plan of one mid-loop round built EXACTLY the way the
  * operator builds it (same staging/persist state), so Exchange/Sort
  * placement in the dump is what the loop actually runs.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val which = args(0)
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session()
    import graft.Staging.StageOps

    which match {
      case "hits" =>
        val e0 = ExtensionQueries.sharedTradeEdges(spark, d)
          .select(col("a").cast("long").as("src"),
            col("b").cast("long").as("dst")).distinct()
        val eBySrc = e0.repartition(col("src")).persist()
        val nodes = eBySrc.select(col("src").as("node"))
          .union(eBySrc.select(col("dst").as("node"))).distinct().stage()
        val n = nodes.count()
        val hubs = nodes.select(col("node"),
          lit(graft.graph.Graph.Scale / n).as("score")).stage()
        val aRaw = eBySrc.join(hubs.hint("shuffle_hash"),
          eBySrc("src") === hubs("node"))
          .groupBy(eBySrc("dst").as("node"))
          .agg(sum(col("score").cast("decimal(38,0)")).as("raw"))
        println("=== hits: one authority half-round (eBySrc join hubs + " +
          "agg) ===")
        aRaw.explain("formatted")

      case "labelprop" =>
        val e0 = ExtensionQueries.sharedTradeEdges(spark, d)
          .select(col("a").cast("long").as("a"),
            col("b").cast("long").as("b"))
          .filter(col("a") =!= col("b"))
        val e = e0.select(col("a").as("src"), col("b").as("dst"))
          .union(e0.select(col("b").as("src"), col("a").as("dst")))
          .distinct()
          .repartition(col("src"))
          .persist()
        val labels = e.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("community")).stage()
        val next = e.join(labels.hint("shuffle_hash"),
          e("src") === labels("node"))
          .select(e("dst").as("node"), col("community"))
          .groupBy("node", "community")
          .agg(count(lit(1)).as("c"))
          .groupBy("node")
          .agg(max_by(col("community"),
            struct(col("c"), (-col("community")).as("nc")))
            .as("community"))
        println("=== labelPropagation: one mid-loop round ===")
        next.explain("formatted")

      case "walks" =>
        // one mid-loop walk step, persisted adjacency like Walks.randomWalks
        val edges = ExtensionQueries.symAdjacency(spark, d)
        val e = edges.select(col("src"), col("dst")).distinct()
        val adj = e.withColumn("rk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .select(col("src").as("a_src"),
            col("rk").cast("long").as("a_rk"), col("dst").as("a_dst"))
          .persist()
        val deg = adj.groupBy(col("a_src").as("d_src"))
          .agg(count(lit(1)).as("deg")).stage()
        val frontier = e.select(col("src").as("start"))
          .union(e.select(col("dst").as("start"))).distinct()
          .select(col("start"), lit(0L).as("walk"),
            col("start").as("node"))
          .stage()
        val step = frontier
          .join(deg.hint("shuffle_hash"), col("node") === col("d_src"))
          .withColumn("pick",
            conv(substring(md5(concat_ws("|", col("start"), col("walk"),
              lit(1))), 1, 8), 16, 10).cast("long") % col("deg"))
          .hint("shuffle_hash")
          .join(adj, col("node") === col("a_src") &&
            col("pick") === col("a_rk"))
          .select(col("start"), col("walk"), col("a_dst").as("node"))
        println("=== randomWalks: one mid-loop step (deg join + " +
          "adjacency probe) ===")
        step.explain("formatted")

      case "sa" =>
        // one mid-loop prefix-doubling round the way rankKeys builds it:
        // the lead() pairing over the doc-partitioned staged frame, then
        // the bucketed re-rank (non-final round)
        val docs = Tables.t(spark, d, "documents")
        val sa = graft.text.SuffixArray.suffixArray(docs, "doc_id", "text")
        println("=== suffixArray: full build (post-final-checkpoint " +
          "tail = fused final round + global rank) ===")
        sa.explain("formatted")

      case "sa_round" =>
        // ONE mid-loop prefix-doubling round as rankKeys builds it NOW:
        // lead(r, covered) window over the doc-partitioned staged frame
        val docs = Tables.t(spark, d, "documents")
        val grams = docs
          .select(col("doc_id"), graft.text.Text.tokens(col("text")).as("__t"))
          .select(col("doc_id"), col("__t"),
            posexplode(col("__t")).as(Seq("p0", "tok")))
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
            slice(col("__t"), col("p0") + 1, lit(16)).as("g"))
        val cur = graft.ops.windows
          .distributedDenseRank(grams, Seq(col("g")), rankName = "r")
          .select(col("doc_id"), col("pos"), col("r"))
          .repartition(col("doc_id"))
          .stage()
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        val paired = cur.select(col("doc_id"), col("pos"), col("r"),
          coalesce(lead(col("r"), 16).over(wDoc), lit(0L)).as("r2"))
        println("=== suffixArray: one doubling round pairing (NEW: " +
          "lead window, no join) ===")
        paired.explain("formatted")

      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }
}
