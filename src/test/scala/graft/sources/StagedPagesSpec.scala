package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ArtifactStore.scratch
import graft.SparkSpec

class StagedPagesSpec extends SparkSpec {
  import spark.implicits._

  private def writePages(): String = {
    val dir = Paths.get(scratch(spark, "graft_pages"))
    Seq("a" -> Seq("row1", "row2"), "b" -> Seq("row3"),
      "c" -> Seq("row4", "row5", "row6")).foreach { case (p, lines) =>
      Files.write(dir.resolve(s"page_$p.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    dir.toString
  }

  test("staged-pages: one partition per page, lines preserved") {
    val dir = writePages()
    val df = spark.read.format("staged-pages")
      .option("path", dir).load()
    assert(df.rdd.getNumPartitions === 3) // page fan-out = partitions
    assert(df.count() === 6)
    val byPage = df.groupBy("page").count()
      .as[(String, Long)].collect().toMap
    assert(byPage === Map("page_a.txt" -> 2L, "page_b.txt" -> 1L,
      "page_c.txt" -> 3L))
  }

  test("staged-pages: column pruning reaches the scan") {
    val dir = writePages()
    val df = spark.read.format("staged-pages")
      .option("path", dir).load()
      .select("line")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("cols=line"), scan)
    assert(df.as[String].collect().sorted ===
      Array("row1", "row2", "row3", "row4", "row5", "row6"))
  }

  test("staged-pages: page filters push down and prune partitions") {
    val dir = writePages()
    def read() = spark.read.format("staged-pages")
      .option("path", dir).load()

    // equality: one surviving page → ONE planned partition
    val eq = read().filter(col("page") === "page_b.txt")
    assert(eq.queryExecution.executedPlan.toString
      .contains("PushedFilters: [EqualTo(page,page_b.txt)"),
      eq.queryExecution.executedPlan.toString)
    assert(eq.rdd.getNumPartitions === 1)
    assert(eq.select("line").as[String].collect() === Array("row3"))

    // IN-list prunes to its members; prefix match prunes none here
    val in = read().filter(col("page").isin("page_a.txt", "page_c.txt"))
    assert(in.rdd.getNumPartitions === 2)
    assert(in.count() === 5)

    // a non-page filter is NOT claimed pushed, and results are exact
    // (every filter is also re-applied post-scan)
    val lineF = read().filter(col("line") === "row4")
    assert(!lineF.queryExecution.executedPlan.toString
      .contains("EqualTo(line"), "line filters are not page-evaluable")
    assert(lineF.count() === 1)

    // conjunction: page prefix + line predicate — page side prunes
    val both = read()
      .filter(col("page").startsWith("page_c") && col("line") =!= "row5")
    assert(both.rdd.getNumPartitions === 1)
    assert(both.select("line").as[String].collect().sorted ===
      Array("row4", "row6"))
  }

  test("staged-pages: join-driven runtime filtering prunes pages") {
    // dynamic partition pruning for the V2 source: joining against a
    // dimension whose filter only resolves at execution must plant a
    // DynamicPruningSubquery on `page`, and its surviving key set must
    // reach StagedPagesScan.filter() BEFORE partitions are planned —
    // the pagesRead custom metric proves non-matching pages were never
    // opened, not merely filtered after the read
    val dir = writePages()
    val fact = spark.read.format("staged-pages")
      .option("path", dir).load()
    // the dim must be a real SCAN: a local Seq constant-folds its
    // filter into the LocalRelation, leaving no selective Filter node
    // for PartitionPruning to key on
    val dimPath = scratch(spark, "graft_dpp_dim")
    Seq(("page_b.txt", "keep"), ("page_x.txt", "other"))
      .toDF("p", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val joined = fact.join(dim, fact("page") === dim("p"))
    // the DynamicPruningSubquery must be PLANTED on the scan...
    val planned = joined.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruning"),
      s"no runtime filter planted:\n$planned")
    // ...and at execution only the one surviving page may be OPENED
    val before = PageReaderFactory.pagesOpened.get()
    val rows = joined.select("line").as[String].collect()
    assert(rows === Array("row3"))
    val opened = PageReaderFactory.pagesOpened.get() - before
    assert(opened === 1L,
      s"runtime filter did not prune: opened $opened of 3 pages")
  }

  test("staged-pages composes with the anchor-extract pattern (S3)") {
    val dir = Paths.get(scratch(spark, "graft_html"))
    Files.write(dir.resolve("p1.html"),
      """<a href="/coaches/jacksph01c.html">Phil</a>
        |<a href="/players/jordami01.html">MJ</a>
        |<a href="/coaches/rilepa01c.html">Pat</a>""".stripMargin
        .getBytes("UTF-8"))
    val hrefs = spark.read.format("staged-pages")
      .option("path", dir.toString).load()
      .select(explode(regexp_extract_all(col("line"),
        lit("href=\"(/coaches/[^\"]+\\.html)\""), lit(1))).as("href"))
      .as[String].collect().sorted
    assert(hrefs === Array("/coaches/jacksph01c.html",
      "/coaches/rilepa01c.html"))
  }
}
