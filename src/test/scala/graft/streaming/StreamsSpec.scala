package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ArtifactStore.scratch

/** SURVEY.md §5 item 5: streaming result ≡ batch result on the events
  * table (Trigger.AvailableNow catchup parity). */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("the memory sink name is a valid view name for every checkpoint " +
    "hash, Int.MinValue included") {
    assert("polygenelubricants".hashCode === Int.MinValue)
    assert(Streams.memorySinkName("polygenelubricants") ===
      "graft_sink_2147483648")
  }

  test("streamed daily agg equals batch daily agg") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_spec")

    val streamed = Streams.dailyEventAgg(spark, dir, ckpt)
      .select(to_date(col("day")).as("day"), col("event_type"),
        col("cnt"), col("sum_value"))

    val batch = Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))

    assert(streamed.collect().toSet === batch.collect().toSet)
  }

  test("streamed OHLC candles equal the batch ohlcBars result") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_ohlc_spec")
    val streamed = Streams.ohlcStream(spark, dir, ckpt)
      .select(col("event_type"), col("bar_start"), col("open"),
        col("high"), col("low"), col("close"), col("n_ticks"),
        col("volume").cast("double"))
      .collect().toSet
    val batch = graft.ops.timeseries.ohlcBars(
        Tables.events(spark, dir), "event_type", "ts", "value",
        "event_id", barSeconds = 86400L)
      .select(col("event_type"), col("bar_start"), col("open"),
        col("high"), col("low"), col("close"), col("n_ticks"),
        col("volume").cast("double"))
      .collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("temporal enrich stream equals the batch at-event-time join") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_scd2_spec")
    val dim = spark.range(150L * 5).select(
      (col("id") % 150).as("user_id"),
      (col("id") / 150).cast("int").as("k"))
      .select(col("user_id"),
        expr("timestamp(date_add(date '2024-01-01', k * 7))")
          .as("valid_from"),
        expr("timestamp(date_add(date '2024-01-01', (k + 1) * 7))")
          .as("valid_to"),
        ((col("user_id") + col("k")) % 3).cast("int").as("tier"))
    val streamed = Streams.temporalEnrichStream(spark, dir, ckpt, dim,
        "user_id", "valid_from", "valid_to")
      .select(col("event_id"), col("tier"))
      .as[(Long, Int)].collect().toSet
    val batch = Tables.events(spark, dir)
      .join(dim, Seq("user_id"))
      .filter(col("ts") >= col("valid_from") &&
        col("ts") < col("valid_to"))
      .select(col("event_id"), col("tier"))
      .as[(Long, Int)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // at-event-time semantics: every event matches exactly ONE version
    assert(streamed.size === streamed.map(_._1).size)
  }

  test("streaming cms cells equal the batch sketch (shard-merge)") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_cms_spec")
    val streamed = Streams.cmsStream(spark, dir, ckpt, "user_id",
        depth = 4, width = 64)
      .as[(Int, Long, Long)].collect().toSet
    val batch = graft.ops.sketches.cmsBuild(
        Tables.events(spark, dir), "user_id", depth = 4, width = 64)
      .select("seed", "bucket", "c")
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamed markov transitions equal the batch operator") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_mk_spec")
    val streamed = Streams.markovStream(spark, dir, ckpt)
      .as[(String, String, Long, Long)].collect().toSet
    val batch = graft.ops.timeseries.transitionMatrix(
        Tables.events(spark, dir), "user_id", "ts", "event_type",
        "event_id")
      .as[(String, String, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("markov state carries the cross-batch boundary step") {
    // one user, two time-ordered files: the a→b step exists ONLY as a
    // batch-boundary handoff through fMGWS state
    val tmp = scratch(spark, "graft_mk_slices")
    def file(i: Int, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val staging = scratch(spark, s"graft_mk_st_$i")
      rows.toDF("event_id", "epoch", "user_id", "event_type")
        .select(col("event_id"), col("epoch").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/ev_$i.parquet"))
    }
    file(0, Seq((1L, 1700000000L, 7L, "a")))
    file(1, Seq((2L, 1700000100L, 7L, "b"), (3L, 1700000200L, 7L, "b")))
    val ckpt = scratch(spark, "graft_ckpt_mk_sl")
    val got = Streams.markovStream(spark, tmp, ckpt, glob = "*.parquet")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === Set(("a", "b", 1L, 1000000L), ("b", "b", 1L, 1000000L)))
  }

  test("streamed dedup emits exactly the batch-distinct key set") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_dd_spec")

    val streamed = Streams.dedupStream(spark, dir, ckpt).collect()
    val batch = Tables.events(spark, dir)
      .select("user_id", "event_type").distinct().collect()

    assert(streamed.length === batch.length, "each key emitted once")
    assert(streamed.toSet === batch.toSet)
  }

  test("RocksDB state store: dedup result identical to the HDFS-map store") {
    // the 100 TB-state provider must be a pure swap — same keys out,
    // state format is a checkpoint property, not a semantics one
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_rdb_spec")
    val streamed = Streams.dedupStream(spark, dir, ckpt, rocksDb = true)
      .collect()
    val batch = Tables.events(spark, dir)
      .select("user_id", "event_type").distinct().collect()
    assert(streamed.toSet === batch.toSet)
  }

  test("multi-batch slicing: 3 micro-batches produce the single-batch result") {
    // split the events table into 3 time-ordered files; with
    // maxFilesPerTrigger=1 AvailableNow runs 3 micro-batches, so
    // watermark advance + state handoff across batches is actually
    // exercised (a single file hides it). Time-ordering keeps every row
    // inside the 1-day watermark, as a season-ordered catchup would.
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_slices")
    val raw = spark.read.parquet(s"$dir/events.parquet").orderBy("ts")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_stage_$i")
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/ev_$i.parquet"))
    }

    // stateful path: windowed aggregation across the 3 batches
    val ckptAgg = scratch(spark, "graft_ckpt_sl_agg")
    val slicedAgg = Streams.dailyEventAgg(spark, tmp, ckptAgg, "*.parquet")
      .select(to_date(col("day")).as("day"), col("event_type"),
        col("cnt"), col("sum_value")).collect()
    val batchAgg = Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value")).collect()
    assert(slicedAgg.toSet === batchAgg.toSet)

    // stateless path: broadcast enrichment across the 3 batches
    val ckptEn = scratch(spark, "graft_ckpt_sl_en")
    val slicedEn = Streams.enrichStream(spark, tmp, ckptEn,
      "*.parquet", dimDir = dir).collect()
    assert(slicedEn.length === n)
  }

  test("streaming LSH dedup: 3 sliced batches equal the batch incremental pass") {
    // arrivals split across 3 files → 3 foreachBatch probes of the same
    // static banded index; decisions depend only on each doc's shingles
    // vs the index, so the union of per-batch decisions must equal the
    // single batch incrementalNearDups run folded to keep/drop rows
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_lsh_slices")
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_lsh_st_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/docs_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_lsh_sl")
    val out = scratch(spark, "graft_lsh_out") + "/dec"
    val sliced = Streams.lshDedupStream(spark, tmp, ckpt, out,
      numPerms = 8, numBands = 4, threshold = 0.8, glob = "*.parquet")
      .collect()

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val arrivals = docs.filter(col("doc_id") % 17 === 0)
    val dups = graft.dedup.Dedup.incrementalNearDups(arrivals,
      docs.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
      numPerms = 8, numBands = 4, threshold = 0.8)
      .groupBy(col("new_id").as("doc_id"))
      .agg(count(lit(1)).as("n_dups"))
    val batch = arrivals.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_dups").isNull.as("keep"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .collect()
    assert(sliced.length === batch.length, "one decision per arrival")
    assert(sliced.toSet === batch.toSet)
    assert(batch.exists(r => !r.getBoolean(1)),
      "fixture must contain at least one dropped near-dup")
  }

  test("cc maintain stream: 3 sliced batches converge to from-scratch CC") {
    // the growing index makes cross-batch pairs discoverable, so the
    // final labels snapshot must equal connectedComponents over the
    // WHOLE corpus regardless of slicing — the property lshDedupStream
    // explicitly does not have
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_ccm_slices")
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_ccm_st_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/docs_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_ccm_sl")
    val store = scratch(spark, "graft_ccm_store")
    val sliced = Streams.ccMaintainStream(spark, tmp, ckpt, store,
        numPerms = 8, numBands = 4, threshold = 0.8, glob = "*.parquet")
      .as[(Long, Long, Boolean)].collect().toSet

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fromScratch = graft.dedup.Dedup.connectedComponents(
        graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text",
          numPerms = 8, numBands = 4, threshold = 0.8),
        "doc_a", "doc_b")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(sliced === fromScratch)
    // the property only bites if some cluster actually straddles the
    // corpus/arrival split
    assert(fromScratch.exists { case (id, comp, _) =>
      (id % 17 == 0) != (comp % 17 == 0) },
      "fixture must contain a cluster straddling the split")
  }

  test("ann maintain stream: 3 sliced batches converge to the one-shot " +
    "batch assignment") {
    // frozen-quantizer assignment is slicing-invariant by design: the
    // merged view after 3 micro-batches must equal corpus assignment ∪
    // one-shot assignToCells over all arrivals — and the growing
    // assignment log must survive forced compaction (maxStoreFiles = 2
    // over 3 batches fires it)
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_annm_slices")
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_annm_st_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/emb_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_annm_sl")
    val store = scratch(spark, "graft_annm_store")
    val sliced = graft.streaming.Streams.annMaintainStream(spark, tmp,
        ckpt, store, glob = "*.parquet", maxStoreFiles = 2)
      .as[(Long, Int)].collect().toSet
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 9 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    val oneShot = corpus
      .select(col("vec_id"), col("label").as("cell"))
      .unionByName(graft.similarity.Similarity.assignToCells(arrivals,
        corpus, corpus.select(col("vec_id"), col("label").as("cell"))))
      .as[(Long, Int)].collect().toSet
    assert(sliced === oneShot)
    assert(sliced.exists { case (id, _) => id >= 200000L },
      "fixture must stream at least one arrival")
    // forced compaction kept the growing assignment log bounded
    val nParts = new java.io.File(s"$store/assignment_delta")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nParts <= 3, s"assignment log fragmented: $nParts")
  }

  test("ann maintain stream: seedFrom refuses a populated store " +
    "instead of nesting the snapshot inside it") {
    // FileUtil.copy into an existing directory nests source under
    // destination (assignment/assignment) — a silent layout
    // corruption. The restore path must fail loudly before any
    // stream state is created.
    val dir = "/root/testdata/sf0.001"
    val store = scratch(spark, "graft_annm_populated")
    Files.createDirectories(
      java.nio.file.Paths.get(s"$store/assignment"))
    val ckpt = scratch(spark, "graft_ckpt_annm_pop")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.annMaintainStream(spark, dir, ckpt,
        store, seedFrom = Some("/nonexistent/snapshot"))
    }
    assert(e.getMessage.contains("already"),
      s"wrong failure: ${e.getMessage}")
  }

  test("ingest trio stream: seed-snapshot restore ≡ inline seed build") {
    // the round-12 startup optimization: the trio restores its three
    // seed stores (CC sets/buckets/labels, SA probe store, IVF
    // assignment/centroids) from shared prebuilt snapshots by file
    // copy instead of re-deriving them per run. Restored or built, the
    // drained view and every at-rest artifact must be IDENTICAL — the
    // seeds are the same deterministic computation over the same
    // corpus slice.
    val dir = "/root/testdata/sf0.001"
    import graft.{ExtensionQueries => EQ}
    def run(seeded: Boolean): (Set[(Long, Long, Long, Long, Int)],
        Set[(Long, Long)]) = {
      val ckpt = scratch(spark, "graft_ckpt_trio_sd")
      val store = scratch(spark, "graft_trio_sd")
      val out = graft.streaming.Streams.ingestTrioStream(spark, dir,
          ckpt, store, numPerms = 8, numBands = 4, threshold = 0.8,
          minLen = 5,
          ccSeedFrom = if (seeded) Some(EQ.ccStreamSeedDir(spark, dir))
            else None,
          saSeedFrom = if (seeded) Some(EQ.saStreamSeedDir(spark, dir))
            else None,
          annSeedFrom = if (seeded) Some(EQ.annTrioSeedDir(spark, dir))
            else None)
        .as[(Long, Long, Long, Long, Int)].collect().toSet
      val labels = spark.read
        .parquet(new java.io.File(s"$store/cc/labels").listFiles()
          .filter(_.getName.startsWith("v_")).head.toString)
        .as[(Long, Long)].collect().toSet
      (out, labels)
    }
    val (seededOut, seededLabels) = run(seeded = true)
    val (inlineOut, inlineLabels) = run(seeded = false)
    assert(seededOut === inlineOut)
    assert(seededLabels === inlineLabels)
    assert(seededOut.nonEmpty)
  }

  test("ingest trio stream: 3 sliced batches — all three at-rest " +
    "artifacts converge to their from-scratch batch computations") {
    // the batch-boundary consistency pin: ONE sliced arrivals stream
    // drives all three indexes, and after it drains, EACH artifact
    // (CC labels, SA dup report, IVF assignment) must equal its
    // independent from-scratch batch truth — simultaneously, out of
    // the same store
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_trio_slices")
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_trio_st_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/docs_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_trio_sl")
    val store = scratch(spark, "graft_trio_store")
    val sliced = graft.streaming.Streams.ingestTrioStream(spark, tmp,
        ckpt, store, numPerms = 8, numBands = 4, threshold = 0.8,
        minLen = 5, glob = "*.parquet",
        embPath = Some(s"$dir/embeddings.parquet"), maxStoreFiles = 2)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    // from-scratch truths, each computed independently
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ccTruth = graft.dedup.Dedup.connectedComponents(
        graft.dedup.Dedup.minhashLshPairs(docs, "doc_id", "text",
          numPerms = 8, numBands = 4, threshold = 0.8),
        "doc_a", "doc_b")
      .select(col("doc_id"), col("comp"))
      .as[(Long, Long)].collect().toMap
    val saTruth = graft.text.SuffixArray.dupPositions(docs, "doc_id",
        "text", minLen = 5)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val corpus = emb.filter(col("vec_id") % 17 =!= 0)
    val annTruth = corpus.select(col("vec_id"), col("label").as("cell"))
      .unionByName(graft.similarity.Similarity.assignToCells(
        emb.filter(col("vec_id") % 17 === 0), corpus,
        corpus.select(col("vec_id"), col("label").as("cell"))))
      .as[(Long, Int)].collect().toMap
    val expected = saTruth.map { case (id, (np, nd)) =>
      (id, ccTruth.getOrElse(id, id), np, nd, annTruth(id)) }.toSet
    assert(sliced === expected)
    assert(sliced.size === n)
    // the consistency claim only bites if arrivals actually exercise
    // each index: a cross-split CC cluster, an arrival-side dup, and
    // at least one arrival assigned to some corpus-trained cell
    assert(expected.exists { case (id, comp, _, _, _) =>
      id % 17 == 0 && comp != id },
      "fixture must cluster an arrival with the corpus")
    assert(expected.exists { case (id, _, _, nd, _) =>
      id % 17 == 0 && nd > 0 },
      "fixture must contain an arrival-side duplicated doc")
    assert(expected.exists { case (id, _, _, _, _) => id % 17 == 0 })
    // the store keeps the single-stream layouts: every at-rest
    // consumer of the singles reads a trio store unchanged
    Seq("cc/sets", "cc/buckets", "sa/gram_positions", "sa/gram_stats",
      "ann/assignment", "ann/centroids", "ann/assignment_delta")
      .foreach(sub => assert(new java.io.File(s"$store/$sub").exists(),
        s"missing trio store artifact $sub"))
    // LIFECYCLE INTEGRATION: the trio's ann/ store is a first-class
    // rebuild input — retrain folds the stream's delta log into a
    // fresh snapshot whose assignment covers corpus ∪ arrivals, and
    // consumers of the swapped snapshot see the retrained centroids
    val allVecs = emb.select(col("vec_id"), col("embedding"))
    val (rebuilt, meanD2, _) = graft.similarity.Similarity
      .rebuildIvfStore(allVecs, s"$store/ann", maxMeanD2 = 0.0)
    assert(rebuilt && meanD2 > 0)
    assert(!new java.io.File(s"$store/ann/assignment_delta").exists(),
      "rebuild must retire the trio stream's delta log")
    val swapped = spark.read.parquet(s"$store/ann/assignment")
    assert(swapped.count() === n,
      "swapped snapshot must cover corpus + streamed arrivals")
    val expectedAfter = graft.similarity.Similarity.assignToStoredCells(
        allVecs, spark.read.parquet(s"$store/ann/centroids"))
      .as[(Long, Int)].collect().toSet
    assert(swapped.as[(Long, Int)].collect().toSet === expectedAfter,
      "swapped assignment must be the argmin against the swapped " +
        "centroids — what any stream consumer restores from")
  }

  test("sa maintain stream: 3 sliced batches converge to from-scratch " +
    "dup report") {
    // the growing gram log makes cross-batch duplicates discoverable,
    // so the final report must equal dupPositions over the WHOLE
    // corpus regardless of slicing — and must survive forced
    // compaction (maxStoreFiles = 2 over 3 batches fires it)
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_sam_slices")
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_sam_st_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/docs_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_sam_sl")
    val store = scratch(spark, "graft_sam_store")
    val sliced = Streams.saMaintainStream(spark, tmp, ckpt, store,
        minLen = 5, glob = "*.parquet", maxStoreFiles = 2)
      .as[(Long, Long, Long)].collect().toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fromScratch = graft.text.SuffixArray.dupPositions(docs, "doc_id",
        "text", minLen = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(sliced === fromScratch)
    // the property only bites if some duplicate straddles the
    // corpus/arrival split
    assert(fromScratch.exists { case (id, _, nd) => id % 17 == 0 && nd > 0 },
      "fixture must contain an arrival-side duplicated doc")
    // forced compaction kept the growing stores bounded
    def nParts(sub: String): Int = new java.io.File(s"$store/$sub")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nParts("gram_positions") <= 3,
      s"membership log fragmented: ${nParts("gram_positions")}")
    assert(nParts("gram_stats") <= 3,
      s"stats log fragmented: ${nParts("gram_stats")}")
  }

  test("cc maintain stream: store stays compacted + metrics per batch") {
    // the state-tiering contract: the index grows by append per batch
    // (inherent — dedup against all history), but the store must not
    // fragment without bound. 6 batches with maxStoreFiles=2 force
    // compaction to fire repeatedly; labels must STILL equal the
    // from-scratch CC (compaction only rewrites files, never data).
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_ccm_cpt")
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 6 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_ccm_cst_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/docs_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_ccm_cpt")
    val store = scratch(spark, "graft_ccm_cpt_store")
    val got = Streams.ccMaintainStream(spark, tmp, ckpt, store,
        numPerms = 8, numBands = 4, threshold = 0.8, glob = "*.parquet",
        maxStoreFiles = 2)
      .as[(Long, Long, Boolean)].collect().toSet
    val fromScratch = graft.dedup.Dedup.connectedComponents(
        graft.dedup.Dedup.minhashLshPairs(
          spark.read.parquet(s"$dir/documents.parquet"), "doc_id",
          "text", numPerms = 8, numBands = 4, threshold = 0.8),
        "doc_a", "doc_b")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === fromScratch)
    // bounded store: compaction keeps each index dir at or under the
    // cap plus one compaction width — never one file pair per batch
    def nParts(sub: String): Int = new java.io.File(s"$store/$sub")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nParts("sets") <= 3, s"sets fragmented: ${nParts("sets")}")
    assert(nParts("buckets") <= 3,
      s"buckets fragmented: ${nParts("buckets")}")
    assert(nParts("metrics") <= 3,
      s"metrics table fragmented: ${nParts("metrics")}")
    // one metrics row per arrival batch, counts monotone-ish sane
    val metrics = spark.read.parquet(s"$store/metrics")
    val mRows = metrics
      .select("batch_id", "n_probe_pairs", "n_buckets_files")
      .as[(Long, Long, Long)].collect()
    assert(mRows.length >= chunks.length - 1,
      s"metrics rows: ${mRows.length} for ${chunks.length} slices")
    assert(mRows.forall(_._3 <= 3), "metrics recorded a fragmented store")
  }

  test("ohlc update mode: same bars as complete mode, state evicted") {
    val dir = "/root/testdata/sf0.001"
    // complete-mode reference
    val ckptC = scratch(spark, "graft_ckpt_oc")
    val complete = Streams.ohlcStream(spark, dir, ckptC,
        valueExpr = (col("value").cast("decimal(18,2)") * 100)
          .cast("long"))
      .collect().toSet
    // update-mode + snapshot-chain upsert
    val ckptU = scratch(spark, "graft_ckpt_ou")
    val tbl = scratch(spark, "graft_ohlc_tbl_t")
    val update = Streams.ohlcStreamUpdate(spark, dir, ckptU, tbl,
        valueExpr = (col("value").cast("decimal(18,2)") * 100)
          .cast("long"))
      .select("event_type", "bar_start", "open", "high", "low",
        "close", "n_ticks", "volume")
      .collect().toSet
    assert(update === complete)
  }

  test("ohlc update mode evicts closed bars from state across batches") {
    // 4 time-ordered files spanning distinct days: with
    // maxFilesPerTrigger=1 the watermark advances per batch, so bars
    // more than 1 day behind the max seen event time age OUT of the
    // state store — final state must hold fewer rows than total bars
    val tmp = scratch(spark, "graft_ohlc_days")
    val days = 8
    (0 until 4).foreach { i =>
      val staging = scratch(spark, s"graft_ohlc_st_$i")
      spark.range(i * 20, i * 20 + 20)
        .select(col("id").as("event_id"),
          (col("id") % 3).as("user_id"),
          // type decorrelated from the day (id DIV 2, not id % 2 —
          // correlated keys would collapse the bar grid)
          expr("concat('t', CAST((id DIV 2) % 2 AS STRING))")
            .as("event_type"),
          // 2 distinct days per file, monotone across files
          timestamp_seconds(lit(1704067200L) +
            (col("id") % 2 + lit(i * 2)) * 86400 + col("id")).as("ts"),
          (col("id") * 1.5).as("value"))
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/ev_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_oev")
    val tbl = scratch(spark, "graft_ohlc_tbl_ev")
    val (table, stateRows) = Streams.ohlcStreamUpdateStats(spark, tmp,
      ckpt, tbl, glob = "*.parquet")
    val totalBars = table.count()
    // all 8 days × 2 types of bars reached the table ...
    assert(totalBars === days * 2L)
    // ... but the state store holds only the un-evicted tail
    assert(stateRows > 0L && stateRows < totalBars,
      s"state $stateRows vs bars $totalBars — eviction did not happen")
  }

  test("foreachBatch upsert across 3 micro-batches equals the batch table") {
    // 3 time-ordered slices → 3 foreachBatch merges into the versioned
    // table; the final snapshot must equal the batch latest-per-user
    // result, proving the stream → CDC-upsert loop end to end
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_cdc_slices")
    val raw = spark.read.parquet(s"$dir/events.parquet").orderBy("ts")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_cdc_stage_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/ev_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_up_spec")
    val tbl = scratch(spark, "graft_cdc_tbl_spec")
    // the upsert keeps the file's raw ts; compare as epoch micros so
    // the assertion is independent of the file's timestamp encoding
    val tsUs = unix_micros(col("ts").cast("timestamp")).as("ts_us")
    val got = Streams.upsertStreamToTable(spark, tmp, ckpt, tbl,
      keys = Seq("user_id"), versionCol = "ts", glob = "*.parquet")
      .select(col("user_id"), tsUs, col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc)
    val want = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), tsUs, col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got === want)
    // superseded snapshots are retired: exactly one version remains
    val versions = new java.io.File(tbl).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
    assert(versions.length === 1)

    // crash-replay: delete the LAST commit marker so the restart
    // redelivers the final batch with the same batchId while its
    // v_<id> snapshot already exists — the replay must neither read
    // the dir it overwrites nor delete the fresh snapshot
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // the local FS keeps a .crc sibling per file; a stale one would
    // fail the re-commit's rename (a local-FS test artifact — HDFS/
    // object stores have no such sibling)
    val crc = new java.io.File(s"$ckpt/commits",
      s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    // fresh session: the original session's StreamingQueryManager still
    // holds this checkpoint's registration (a real crash-restart is a
    // new driver process)
    val replayed = Streams.upsertStreamToTable(spark.newSession(), tmp,
      ckpt, tbl, keys = Seq("user_id"), versionCol = "ts",
      glob = "*.parquet")
      .select(col("user_id"), tsUs, col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(replayed === want, "crash-replay must reproduce the table")
    val versionsAfter = new java.io.File(tbl).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
    assert(versionsAfter.length === 1)
  }

  private def batchIntervalJoin(dir: String) = {
    // Tables.events already converts nanos-as-long ts to timestamp
    val ev = Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("right_id"),
        col("user_id").as("r_user_id"), col("ts").as("right_ts"),
        col("value"))
    c.join(p, col("user_id") === col("r_user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr("interval 6 hours"))
      .select(col("left_id"), col("right_id"), col("user_id"),
        expr("unix_micros(left_ts)").as("left_us"),
        expr("unix_micros(right_ts)").as("right_us"), col("value"))
  }

  test("stream-stream interval join equals the batch interval join") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_sj_spec")
    val streamed = Streams
      .intervalJoinStreams(spark, dir, ckpt, "click", "purchase", 6)
      .collect()
    val batch = batchIntervalJoin(dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSet === batch.toSet)
  }

  test("left-outer stream-stream join equals the batch left join") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_sjo_spec")
    val streamed = Streams
      .intervalJoinStreamsOuter(spark, dir, ckpt, "click", "purchase", 6)
      .collect()
    // batch twin: same sides/condition as batchIntervalJoin, leftOuter
    val ev = graft.Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("right_id"),
        col("user_id").as("r_user_id"), col("ts").as("right_ts"),
        col("value"))
    val batch = c.join(p, col("user_id") === col("r_user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr("interval 6 hours"),
        "leftOuter")
      .select(col("left_id"), col("right_id"), col("user_id"),
        expr("unix_micros(left_ts)").as("left_us"),
        expr("unix_micros(right_ts)").as("right_us"), col("value"))
      .collect()
    assert(streamed.toSet === batch.toSet)
    // the outer rows are really there: unmatched clicks null-padded,
    // including clicks inside the final watermark+window horizon
    assert(streamed.count(_.isNullAt(1)) > 0)
    assert(streamed.length > streamed.count(!_.isNullAt(1)))
  }

  test("full-outer stream-stream join equals the batch full join") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_sjf_spec")
    val streamed = Streams
      .intervalJoinStreamsOuter(spark, dir, ckpt, "click", "purchase", 6,
        joinType = "fullOuter")
      .collect()
    val ev = graft.Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("right_id"),
        col("user_id").as("r_user_id"), col("ts").as("right_ts"),
        col("value"))
    val batch = c.join(p, col("user_id") === col("r_user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr("interval 6 hours"),
        "fullOuter")
      .select(col("left_id"), col("right_id"), col("user_id"),
        expr("unix_micros(left_ts)").as("left_us"),
        expr("unix_micros(right_ts)").as("right_us"), col("value"))
      .collect()
    assert(streamed.toSet === batch.toSet)
    // both null-padded populations are present: clicks without a
    // purchase AND purchases without a click
    assert(streamed.count(_.isNullAt(1)) > 0)
    assert(streamed.count(_.isNullAt(0)) > 0)
  }

  test("stream-stream join across 3 micro-batches buffers state correctly") {
    // time-ordered slices: a click in batch i can only match a purchase
    // in batch i or i+1, so the join's left-side state must survive the
    // batch boundary — the property a single file never exercises
    val dir = "/root/testdata/sf0.001"
    val tmp = scratch(spark, "graft_sj_slices")
    val raw = spark.read.parquet(s"$dir/events.parquet").orderBy("ts")
    val n = raw.count()
    val chunks = raw.collect().grouped((n / 3 + 1).toInt).toSeq
    val schema = raw.schema
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val staging = scratch(spark, s"graft_sj_stage_$i")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/ev_$i.parquet"))
    }
    val ckpt = scratch(spark, "graft_ckpt_sj_sl")
    val sliced = Streams.intervalJoinStreams(spark, tmp, ckpt,
      "click", "purchase", 6, glob = "*.parquet").collect()
    val batch = batchIntervalJoin(dir).collect()
    assert(sliced.toSet === batch.toSet)
  }

  test("stream-static enrichment equals the batch join") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_en_spec")

    val streamed = Streams.enrichStream(spark, dir, ckpt).collect()
    val batch = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        pmod(col("user_id"), lit(25)).as("nk"))
      .join(spark.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name")),
        col("nk") === col("n_nationkey"))
      .select(col("event_id"), col("event_type"), col("n_name"))
      .collect()

    assert(streamed.length === batch.length)
    assert(streamed.toSet === batch.toSet)
  }

  test("streaming top-k heavy hitters equals the batch rank") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_ckpt_topk_spec")
    val streamed = Streams.topKStream(spark, dir, ckpt, k = 3)
      .select(to_date(col("day")).as("day"), col("event_type"),
        col("user_id"), col("cnt"))
      .collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day"), col("event_type"))
      .orderBy(col("cnt").desc, col("user_id"))
    val batch = Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .collect()
    assert(streamed.length === batch.length)
    assert(streamed.toSet === batch.toSet)
  }

  private val sf0001 = "/root/testdata/sf0.001"

  /** State partition dirs of the checkpoint's first stateful operator. */
  private def statePartitionDirs(ckpt: String): Int =
    new java.io.File(s"$ckpt/state/0").listFiles()
      .count(f => f.isDirectory && f.getName.forall(_.isDigit))

  /** A session whose file scans cut `file` into about `pieces` splits. */
  private def splitSession(file: String, pieces: Int): SparkSession = {
    val bytes = (new java.io.File(file).length + pieces - 1) / pieces
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", bytes)
    s.conf.set("spark.sql.files.openCostInBytes", bytes)
    s
  }

  test("state partitions are min(shuffle partitions, input splits)") {
    // one stream per state mechanism: windowed aggregation on the HDFS
    // store, flatMapGroupsWithState, transformWithState on RocksDB
    val dir = sf0001
    val events = s"$dir/events.parquet"
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val streams = Seq[(SparkSession, String) => DataFrame](
      (s, c) => Streams.dailyEventAgg(s, dir, c),
      (s, c) => Streams.markovStream(s, dir, c),
      (s, c) => Streams.sessionizeStreamTws(s, dir, c, gapMinutes = 30))
    def run(s: SparkSession): Seq[(Int, Set[Row])] = streams.map { f =>
      val ckpt = scratch(spark, "graft_ckpt_parts")
      val rows = f(s, ckpt).collect().toSet
      (statePartitionDirs(ckpt), rows)
    }

    // the events table is one small file: one split, one state partition
    val one = run(spark)
    assert(one.map(_._1) === Seq(1, 1, 1))
    assert(one.forall(_._2.nonEmpty))

    // fewer splits than shuffle partitions: one state partition a split,
    // and the state handoff across partitions leaves the result alone
    val few = splitSession(events, 3)
    val fewSplits = few.read.parquet(events).rdd.getNumPartitions
    assert(fewSplits >= 3)
    val fewRun = run(few)
    assert(fewRun.map(_._1) === Seq.fill(3)(math.min(shuffle, fewSplits)))
    assert(fewRun.map(_._2) === one.map(_._2))

    // at least as many splits as shuffle partitions: the full count
    val many = splitSession(events, 2 * shuffle)
    assert(many.read.parquet(events).rdd.getNumPartitions >= shuffle)
    val manyRun = run(many)
    assert(manyRun.map(_._1) === Seq.fill(3)(shuffle))
    assert(manyRun.map(_._2) === one.map(_._2))
  }

  test("a restarted stream keeps its checkpoint's state partitions") {
    // one file → one state partition; a second file and a smaller split
    // size would size a fresh checkpoint wider, but the restart must
    // keep the count the offset log recorded
    val dir = sf0001
    val tmp = scratch(spark, "graft_restart")
    val raw = spark.read.parquet(s"$dir/events.parquet").orderBy("ts")
    val rows = raw.collect()
    def stage(i: Int, part: Seq[Row]): Unit = {
      val staging = scratch(spark, s"graft_restart_st_$i")
      spark.createDataFrame(java.util.Arrays.asList(part: _*), raw.schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val file = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(file.toPath, java.nio.file.Paths.get(s"$tmp/ev_$i.parquet"))
    }
    val (first, second) = rows.toSeq.splitAt(rows.length / 2)
    stage(0, first)
    val ckpt = scratch(spark, "graft_ckpt_restart")
    Streams.dailyEventAgg(spark, tmp, ckpt, "*.parquet").collect()
    assert(statePartitionDirs(ckpt) === 1)

    stage(1, second)
    val wider = splitSession(s"$tmp/ev_1.parquet", 3)
    assert(wider.read.option("pathGlobFilter", "*.parquet").parquet(tmp)
      .rdd.getNumPartitions > 1)
    val restarted = Streams.dailyEventAgg(wider, tmp, ckpt, "*.parquet")
      .select(to_date(col("day")).as("day"), col("event_type"),
        col("cnt"), col("sum_value")).collect().toSet
    assert(statePartitionDirs(ckpt) === 1)
    val batch = Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value")).collect().toSet
    assert(restarted === batch)
  }

  test("memory-sink streams drop their sink views and keep their rows") {
    // the sink's temp view would otherwise pin every result row on the
    // driver for the session's lifetime
    val dir = sf0001
    def sinkViews(df: DataFrame): Seq[String] =
      df.sparkSession.catalog.listTables().collect().toSeq.map(_.name)
        .filter(_.startsWith("graft_"))
    val daily = Streams.dailyEventAgg(spark, dir,
      scratch(spark, "graft_ckpt_views_daily"))
    val enriched = Streams.enrichStream(spark, dir,
      scratch(spark, "graft_ckpt_views_enrich"))
    assert(sinkViews(daily).isEmpty, sinkViews(daily))
    assert(sinkViews(enriched).isEmpty, sinkViews(enriched))
    val dailyBatch = Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    assert(daily.select(to_date(col("day")).as("day"), col("event_type"),
        col("cnt"), col("sum_value")).collect().toSet ===
      dailyBatch.collect().toSet)
    val enrichBatch = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        pmod(col("user_id"), lit(25)).as("nk"))
      .join(spark.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name")),
        col("nk") === col("n_nationkey"))
      .select(col("event_id"), col("event_type"), col("n_name"))
    assert(enriched.collect().toSet === enrichBatch.collect().toSet)
  }

  test("routeValidated fails loudly and releases its pinned batch when " +
    "the predicate raises") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val ex = intercept[Exception] {
      Streams.routeValidated(spark, sf0001,
        scratch(spark, "graft_ckpt_rv_raise"),
        scratch(spark, "graft_rv_raise_good"),
        scratch(spark, "graft_rv_raise_bad"),
        when(col("event_id") === 500L, raise_error(lit("boom")))
          .otherwise(lit(true)))
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(msgs.exists(_.contains("boom")), ex)
    assert(cache.isEmpty, "routeValidated leaked its pinned micro-batch")
  }

  test("a repeat stream run reuses the first run's generated code") {
    // Spark caches generated classes per (context class loader, source);
    // a caller session with artifact isolation on runs its tasks under
    // a loader of its own, and each stream run in a new session would
    // compile every class again under yet another one
    import org.apache.spark.metrics.source.CodegenMetrics
    val caller = spark.newSession()
    caller.conf.set("spark.sql.artifact.isolation.enabled", "true")
    def run(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Streams.dailyEventAgg(caller, sf0001,
        scratch(spark, "graft_ckpt_reuse_daily")).collect()
      Streams.annMaintainStream(caller, sf0001,
        scratch(spark, "graft_ckpt_reuse_ann"),
        scratch(spark, "graft_reuse_ann_store")).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = run()
    val repeat = run()
    assert(repeat < 10, s"repeat run compiled $repeat classes " +
      s"(first run $first)")
  }

  /** `table` of sf0.001 split in `orderCol` order into `n` files of a
    * fresh dir, which a file stream reads as `n` micro-batches. */
  private def sliced(table: String, orderCol: String, n: Int,
                     name: String): String = {
    val dir = scratch(spark, name)
    val raw = spark.read.parquet(s"$sf0001/$table.parquet").orderBy(orderCol)
    val rows = raw.collect()
    rows.grouped(rows.length / n + 1).zipWithIndex.foreach { case (part, i) =>
      val staging = scratch(spark, s"${name}_st_$i")
      spark.createDataFrame(java.util.Arrays.asList(part: _*), raw.schema)
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val file = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(file.toPath,
        java.nio.file.Paths.get(s"$dir/${table}_$i.parquet"))
    }
    dir
  }

  private def commitIds(ckpt: String): Seq[Long] =
    new java.io.File(s"$ckpt/commits").listFiles().toSeq
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toLong).sorted

  /** Delete the last offset commit (and its local-FS `.crc` sibling,
    * whose staleness would fail the re-commit's rename): the state a
    * crash between a batch's sink work and its commit leaves behind. */
  private def dropLastCommit(ckpt: String): Unit = {
    val last = commitIds(ckpt).last
    assert(new java.io.File(s"$ckpt/commits/$last").delete())
    val crc = new java.io.File(s"$ckpt/commits/.$last.crc")
    if (crc.exists()) assert(crc.delete())
  }

  private def versionDirs(chain: String): Int =
    new java.io.File(chain).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v_"))

  /** The distinct rows of each grown store under `store`. */
  private def storeRows(store: String, subs: Seq[String]): Seq[Set[Row]] =
    subs.map(sub => spark.read.parquet(s"$store/$sub").collect().toSet)

  /** Run `stream` over `ckpt` to the end, crash it before its last
    * offset commit, and restart it in a fresh session (the first
    * session's StreamingQueryManager still holds the checkpoint; a real
    * restart is a new driver). The replay must reproduce the result,
    * re-commit the batch, keep one `v_*` dir in each of `chains`, and
    * keep the grown `stores` under `store` instead of re-seeding them. */
  private def assertCrashReplay[T](ckpt: String, store: String,
                                   chains: Seq[String],
                                   stores: Seq[String])
                                  (stream: SparkSession => Set[T]): Unit = {
    val whole = stream(spark)
    val commits = commitIds(ckpt)
    assert(commits.length > 1, "the fixture must stream several batches")
    val grown = storeRows(store, stores)
    dropLastCommit(ckpt)
    assert(stream(spark.newSession()) === whole,
      "crash-replay must reproduce the result")
    assert(commitIds(ckpt) === commits, "the replayed batch re-commits")
    chains.foreach(c => assert(versionDirs(s"$store/$c") === 1, c))
    // a plain Boolean: the row sets are too large for a useful diff
    val kept = storeRows(store, stores) == grown
    assert(kept, "a restart must keep the grown stores")
  }

  test("cc maintain stream: a crash before the last offset commit " +
    "replays to the uninterrupted result") {
    val docs = sliced("documents", "doc_id", 3, "graft_ccm_crash")
    val ckpt = scratch(spark, "graft_ckpt_ccm_crash")
    val store = scratch(spark, "graft_ccm_crash_store")
    assertCrashReplay(ckpt, store, Seq("labels"), Seq("sets", "buckets")) {
      s => Streams.ccMaintainStream(s, docs, ckpt, store, numPerms = 8,
          numBands = 4, threshold = 0.8, glob = "*.parquet")
        .as[(Long, Long, Boolean)].collect().toSet
    }
  }

  test("sa maintain stream: a crash before the last offset commit " +
    "replays to the uninterrupted result") {
    val docs = sliced("documents", "doc_id", 3, "graft_sam_crash")
    val ckpt = scratch(spark, "graft_ckpt_sam_crash")
    val store = scratch(spark, "graft_sam_crash_store")
    assertCrashReplay(ckpt, store, Seq("report"),
        Seq("gram_positions", "gram_stats")) {
      s => Streams.saMaintainStream(s, docs, ckpt, store, minLen = 5,
          glob = "*.parquet")
        .as[(Long, Long, Long)].collect().toSet
    }
  }

  test("ingest trio stream: a crash before the last offset commit " +
    "replays to the uninterrupted result") {
    // seeded from the shared snapshots, as q_stream_ingest_trio runs:
    // the restart must find its store seeded, not restore over it
    import graft.{ExtensionQueries => EQ}
    val docs = sliced("documents", "doc_id", 3, "graft_trio_crash")
    val ckpt = scratch(spark, "graft_ckpt_trio_crash")
    val store = scratch(spark, "graft_trio_crash_store")
    val (ccSeed, saSeed, annSeed) = (EQ.ccStreamSeedDir(spark, sf0001),
      EQ.saStreamSeedDir(spark, sf0001), EQ.annTrioSeedDir(spark, sf0001))
    assertCrashReplay(ckpt, store, Seq("cc/labels", "sa/report"),
        Seq("cc/sets", "cc/buckets", "sa/gram_positions", "sa/gram_stats",
          "ann/assignment_delta")) {
      s => Streams.ingestTrioStream(s, docs, ckpt, store, numPerms = 8,
          numBands = 4, threshold = 0.8, minLen = 5, glob = "*.parquet",
          embPath = Some(s"$sf0001/embeddings.parquet"),
          ccSeedFrom = Some(ccSeed), saSeedFrom = Some(saSeed),
          annSeedFrom = Some(annSeed))
        .as[(Long, Long, Long, Long, Int)].collect().toSet
    }
  }
}
