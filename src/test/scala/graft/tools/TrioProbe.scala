package graft

import org.apache.spark.sql.functions._

/** Throwaway profiler: phase-level timing of ingestTrioStream's parts. */
object TrioProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Session()
    import graft.dedup.Dedup
    import graft.similarity.Similarity
    import graft.text.SuffixArray
    import graft.Staging.StageOps

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[trioprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    (1 to 2).foreach { round =>
      println(s"[trioprobe] === round $round ===")
      val storePath = ArtifactStore.scratch(spark, "graft_trio_probe")
      val docs = spark.read.option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      val corpus = docs.filter(col("doc_id") % 17 =!= 0)
      val emb = spark.read.parquet(s"$d/embeddings.parquet")

      val sets0 = Dedup.shingleSets(corpus, "doc_id", "text", 3)
      time("seed cc/sets write") {
        sets0.write.mode("overwrite").parquet(s"$storePath/cc/sets")
      }
      val banded0 = time("seed cc/buckets stage") {
        Dedup.bandedBuckets(sets0, 8, 4).stage()
      }
      time("seed cc/buckets write") {
        banded0.write.mode("overwrite").parquet(s"$storePath/cc/buckets")
      }
      val seedLabels = time("seed CC fixpoint") {
        val l = Dedup.connectedComponents(
          Dedup.nearDupPairsFromIndex(sets0, banded0, 0.8),
          "doc_a", "doc_b").select("doc_id", "comp")
        l.write.format("noop").mode("overwrite").save()
        l
      }
      time("seed SA probe store") {
        SuffixArray.seedProbeStore(corpus, "doc_id", "text", 5,
          s"$storePath/sa")
      }
      time("seed IVF store") {
        Similarity.seedIvfStore(emb.filter(col("vec_id") % 17 =!= 0),
          "label", s"$storePath/ann")
      }
      val centroids = spark.read.parquet(s"$storePath/ann/centroids")
      val seedReport = spark.read.parquet(s"$storePath/sa/seed_report")

      // --- the single micro-batch, kernel by kernel ---
      val arrivals = time("arrivals persist") {
        val a = docs.filter(col("doc_id") % 17 === 0).persist()
        a.count(); a
      }
      time("ANN kernel") {
        val arrVecs = arrivals.select(col("doc_id").as("vec_id"))
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        Similarity.assignToStoredCells(arrVecs, centroids)
          .withColumn("shard_id", lit(0L))
          .write.mode("append").parquet(s"$storePath/ann/assignment_delta")
      }
      val (cross, within) = time("CC probe + within (staged)") {
        val arrSets = Dedup.shingleSets(arrivals, "doc_id", "text", 3)
        val arrBanded = Dedup.bandedBuckets(arrSets, 8, 4).stage()
        val c = Dedup.incrementalNearDupsFromSets(arrSets, arrBanded,
            spark.read.parquet(s"$storePath/cc/sets"),
            spark.read.parquet(s"$storePath/cc/buckets"), 0.8)
          .select(col("new_id").as("a"), col("corpus_id").as("b"))
          .stage()
        val w = Dedup.nearDupPairsFromIndex(arrSets, arrBanded, 0.8)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        time("CC index grow writes") {
          arrSets.write.mode("append").parquet(s"$storePath/cc/sets")
          arrBanded.write.mode("append").parquet(s"$storePath/cc/buckets")
        }
        (c, w)
      }
      time("CC incrementalComponents + write") {
        Dedup.incrementalComponents(seedLabels, "doc_id", "comp",
            cross.unionByName(within), "a", "b")
          .select(col("doc_id"), col("comp"))
          .write.mode("overwrite").parquet(s"$storePath/cc/labels/v_0")
      }
      time("SA deltaDupPositions (staged)") {
        val arrIds = arrivals.select("doc_id").distinct()
        val posView = spark.read
          .parquet(s"$storePath/sa/gram_positions")
          .join(broadcast(arrIds), Seq("doc_id"), "left_anti")
        val statsView = spark.read.parquet(s"$storePath/sa/gram_stats")
          .filter(col("shard_id") =!= lit(0L))
        val merged = SuffixArray.deltaDupPositions(posView, statsView,
            seedReport, arrivals, "doc_id", "text", 5)
          .stage()
        time("SA index grow + report write") {
          val bg = SuffixArray.slidingGrams(arrivals, "doc_id", "text", 5)
            .stage()
          bg.write.mode("append").parquet(s"$storePath/sa/gram_positions")
          bg.groupBy("gram").agg(count(lit(1)).as("n_occ"))
            .withColumn("shard_id", lit(0L))
            .write.mode("append").parquet(s"$storePath/sa/gram_stats")
          merged.write.mode("overwrite")
            .parquet(s"$storePath/sa/report/v_0")
        }
      }
      time("final view join + noop") {
        val labels = spark.read.parquet(s"$storePath/cc/labels/v_0")
        val report = spark.read.parquet(s"$storePath/sa/report/v_0")
        val annStored = spark.read.parquet(s"$storePath/ann/assignment")
          .select(col("vec_id"), col("cell"))
        val annView = annStored.unionByName(
          spark.read.parquet(s"$storePath/ann/assignment_delta")
            .dropDuplicates("vec_id").select(col("vec_id"), col("cell")))
        report
          .join(annView.withColumnRenamed("vec_id", "doc_id"),
            Seq("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("comp"),
            col("n_positions"), col("n_dup_positions"), col("cell"))
          .orderBy("doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      arrivals.unpersist(blocking = false)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    spark.stop()
  }
}
