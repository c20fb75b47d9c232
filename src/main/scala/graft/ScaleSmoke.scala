package graft

import graft.ArtifactStore.scratch
import graft.Staging._
import org.apache.spark.sql.functions._

import graft.ops.{exprs, windows}

/** Scale headroom probe: run the engine's core operator shapes on
  * generated data 100-1000× the sf0.1 testdata, single node. Not a
  * correctness gate (no oracle at this size) — evidence that the operator
  * shapes hold when the data stops being toy-sized: shuffles stay bounded,
  * partial aggs stay partial, nothing collects to the driver.
  *
  * Usage: sbt "runMain graft.ScaleSmoke [rows] [nameSubstring...]"
  * (default 50M, all smokes; trailing args restrict to smokes whose
  * name contains any of them — dev use)
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 50000000L
    val only = args.drop(1).toSeq
    val spark = Session()
    // opt-in reliable-checkpoint mode (Staging.stage routes on this):
    // lets the smokes measure the durable-staging cost delta a real
    // cluster pays for executor-loss recoverability
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    import spark.implicits._

    def timed(name: String)(f: => Long): Unit =
      if (only.isEmpty || only.exists(name.contains)) {
        val t0 = System.nanoTime()
        val n = f
        println(f"[scale] $name%-28s rows=$n%12d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }

    // fact table: rows × (key ~ rows/50, seq, value, flag)
    val fact = spark.range(rows).select(
      (col("id") / 50).cast("long").as("k"),
      (col("id") % 50).cast("int").as("seq"),
      (col("id") % 9973).cast("double").as("v"),
      (col("id") % 7).cast("int").as("f"))

    timed("groupBy partial agg") {
      fact.groupBy("f")
        .agg(sum(col("v").cast("decimal(18,2)")).as("s"),
          count(lit(1)).as("c"))
        .count()
    }

    timed("window running counter") {
      val w = windows.running(Seq(col("k")), Seq(col("seq")))
      fact.select(windows.runningCounter(col("v") > 5000, w).as("p"))
        .filter(col("p") > 40).count()
    }

    timed("broadcast lookup join") {
      val dim = spark.range(7).select(col("id").cast("int").as("f"),
        concat(lit("name_"), col("id")).as("fname"))
      fact.join(broadcast(dim), "f").filter(col("fname") === "name_3")
        .count()
    }

    timed("det-id projection (md5)") {
      fact.select(exprs.detId(col("k"), col("seq")).as("id"))
        .filter(col("id").startsWith("00")).count()
    }

    timed("native graft_dot topk") {
      val vecs = spark.range(rows / 50).select(col("id").as("vec_id"),
        array((0 until 16).map(j =>
          ((col("id") * (j + 1)) % 997).cast("float")): _*).as("emb"))
      val q = vecs.filter(col("vec_id") === 12345L)
        .select(col("emb").as("q_emb"))
      vecs.crossJoin(broadcast(q))
        .select(graft.similarity.Similarity.dot(col("emb"), col("q_emb"))
          .as("d"))
        .orderBy(col("d").desc).limit(10).count()
    }

    timed("salted join under 90% skew") {
      // 90% of fact rows hit one key — the shape that stalls a plain
      // shuffle join on a single straggler task; salting spreads the hot
      // key over numSalts partitions
      val skewed = spark.range(rows).select(
        when(col("id") % 10 < 9, 0L).otherwise(col("id") % 1000).as("k"),
        col("id").as("v"))
      val dim = spark.range(1000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      graft.ops.relational.saltedJoin(skewed, dim, "k", numSalts = 32)
        .filter(col("w") % 100 === 0).count()
    }

    timed("native minhash signatures") {
      // synthetic 60-token docs → 58 shingles × 8 salted md5 each, all
      // scan-local (graft_shingles + graft_minhash): zero shuffle — the
      // count is the only exchange. ~200k docs ≈ 90M md5 calls
      val docs = spark.range(rows / 250).select(col("id").as("doc_id"),
        array((0 until 60).map(j =>
          ((col("id") * (j + 3)) % 5003).cast("string")): _*).as("toks"))
      docs.select(call_function("graft_minhash",
          call_function("graft_shingles", col("toks"), lit(3)), lit(8))
          .as("sig"))
        .filter(element_at(col("sig"), 1) < "8").count()
    }

    timed("banded simhash pairs") {
      // rows/50 (default 1M) synthetic 64-bit fingerprints with planted
      // hamming-1 pairs (ids 2k / 2k+1 differ by one flipped bit) in a
      // sea of random fps — random 64-bit pairs land within hamming 3
      // with p ≈ 2.4e-15, so the expected output is exactly the planted
      // n/2 pairs. Exercises the pigeonhole band join at a scale where
      // any within-block quadratic blowup would be minutes, not seconds.
      val n = rows / 50
      val grp = (col("id") / 2).cast("long").cast("string")
      val fps = spark.range(n).select(col("id"),
        when(col("id") % 2 === 0, xxhash64(grp))
          .otherwise(xxhash64(grp)
            .bitwiseXOR(expr("shiftleft(1L, cast(id % 61 as int) + 1)")))
          .as("fp"))
      graft.dedup.Dedup.bandedHammingPairs(fps, "id", "fp",
        bits = 64, maxHamming = 3).count()
    }

    timed("prefix-filtered ngram pairs") {
      // rows/250 (default 200k) synthetic 40-token docs; ids 2k/2k+1
      // share all but one token (near-dups), the rest of the gram space
      // is id-salted so document frequencies stay corpus-realistic.
      // Exercises the exact prefix-filter join (sorted-gram prefixes →
      // candidate equi-join → graft_overlap verify) at ~40× the sf0.1
      // corpus — the lossless formulation must stay candidate-bounded,
      // not quadratic.
      val nd = rows / 250
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 40).map(j =>
            concat(lit(s"w${j}_"),
              (((col("id") / 2).cast("long") * (j + 7)) % 9973)
                .cast("string"))) :+
            concat(lit("tail_"), (col("id") % 2).cast("string")): _*)
          .as("text"))
      graft.dedup.Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5)
        .count()
    }

    timed("ngram pairs shuffle verify") {
      // the same prefix-filter pipeline forced onto its NON-broadcast
      // verify path (limit 0): the lake-scale shape where the doc→ids
      // map exceeds the broadcast budget and the two verify joins run
      // as shuffles. Must produce the same planted n/2 pair count.
      val nd = rows / 500
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 40).map(j =>
            concat(lit(s"w${j}_"),
              (((col("id") / 2).cast("long") * (j + 7)) % 9973)
                .cast("string"))) :+
            concat(lit("tail_"), (col("id") % 2).cast("string")): _*)
          .as("text"))
      graft.dedup.Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5,
        broadcastBytesLimit = 0L).count()
    }

    timed("duplicated-span stats") {
      // rows/250 (default 200k) synthetic 40-token docs; every doc pair
      // 2k/2k+1 shares its whole text (their spans are all duplicated)
      // and odd-salted docs are unique. Exercises the span-df groupBy:
      // the explode is scan-local (native graft_shingle_spans), the df
      // agg shuffles one 8-byte hash per window occurrence with map-side
      // combine, the rollup shuffles one row per doc — nothing quadratic
      // anywhere, the 100 TB shape of substring-level dedup reporting.
      val nd = rows / 250
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 40).map(j =>
            concat(lit(s"w${j}_"),
              (((col("id") / 2).cast("long") * (j + 7)) % 9973)
                .cast("string"))): _*).as("text"))
      graft.text.Text.dupSpans(docs, "doc_id", "text", k = 4)
        .filter(col("dup_ratio") > 0.5).count()
    }

    timed("boilerplate strip") {
      // rows/250 (default 200k) 40-token docs; every doc carries the
      // same 4-token banner at chunk 0 (global boilerplate) and a
      // per-doc-unique body. Exercises the full pipeline: scan-local
      // chunking, distinct-(doc,hash) collapse, df cut, flag join-back,
      // ordered reassembly — the only corpus-volume exchanges are the
      // flag join and the per-doc regroup, both linear.
      val nd = rows / 250
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat(lit("subscribe to our newsletter "),
          concat_ws(" ", (0 until 36).map(j =>
            concat(lit(s"b${j}_"),
              ((col("id") * (j + 11)) % 999983).cast("string"))): _*))
          .as("text"))
      val out = graft.text.Text.stripBoilerplate(docs, "doc_id", "text",
        chunkTokens = 4, minDocs = 1000)
      out.filter(col("n_dropped") >= 1).count()
    }

    timed("span scrub removal") {
      // same planted shape as the dup-span stats smoke: doc pairs
      // 2k/2k+1 share their whole 40-token text (every window dup),
      // odd-salted docs unique — exercises the interval fan-out
      // (|dup windows|·k), the position anti-join, and the ordered
      // reassembly at rows/500 docs (default 100k).
      val nd = rows / 500
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 40).map(j =>
            concat(lit(s"w${j}_"),
              (((col("id") / 2).cast("long") * (j + 7)) % 9973)
                .cast("string"))): _*).as("text"))
      graft.text.Text.spanScrub(docs, "doc_id", "text", k = 4)
        .filter(col("n_removed") > 0).count()
    }

    timed("source overlap matrix") {
      // rows/50 (default 1M) docs across 40 sources, 12 tokens each;
      // sources 2b and 2b+1 draw consecutive runs from the same
      // 997-token ring (disjoint across bands), so exactly the 40
      // within-band ordered pairs overlap. The distinct (source,
      // shingle) collapse is the only token-volume work; the pair
      // fan-out is Σ m² over per-shingle source sets (m ≤ 40).
      val nd = rows / 50
      // integer band: `/` on Columns is DOUBLE division, so floor+cast
      val band = floor((col("id") % 40) / lit(2)).cast("long")
      val docs = spark.range(nd).select(
        concat(lit("s"), (col("id") % 40).cast("string")).as("source"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit("t"), (band * 10000 +
            (floor(col("id") / 40).cast("long") + j) % 997)
            .cast("string"))): _*).as("text"))
      val m = graft.text.Text.sourceOverlap(docs, "source", "text", k = 3)
        .stage()
      // full 40×39 ordered matrix (disjoint pairs appear at ZERO);
      // exactly the 40 planted within-band pairs share shingles
      require(m.count() == 40L * 39L,
        s"expected the full 1560-pair matrix, got ${m.count()}")
      val shared = m.filter(col("n_shared") > 0).count()
      require(shared == 40,
        s"expected the 40 planted within-band pairs, got $shared")
      shared
    }

    timed("snapshot diff (full outer)") {
      // two 50M-row snapshot versions: ~10% keys removed, ~10% added,
      // ~3% changed — one full-outer shuffle join on the key, the audit
      // shape at table scale
      val prev = spark.range(rows).filter(col("id") % 10 =!= 0)
        .select(col("id").as("k"), (col("id") % 97).as("v"))
      val next = spark.range(rows).filter(col("id") % 11 =!= 0)
        .select(col("id").as("k"),
          when(col("id") % 31 === 0, col("id") % 89)
            .otherwise(col("id") % 97).as("v"))
      graft.ops.relational.snapshotDiff(prev, next, Seq("k"), Seq("v"))
        .filter(col("change_type") =!= "unchanged").count()
    }

    timed("bm25 lexical top-k") {
      // rows/250 (default 200k) 40-token docs; the occurrence explode is
      // filtered to the 4 query terms BEFORE any shuffle, so the shape
      // is scan + two small partial aggs + broadcasts — corpus size only
      // enters through the one scan
      val nd = rows / 250
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 40).map(j =>
            concat(lit("w"), ((col("id") * (j + 7)) % 997)
              .cast("string"))): _*).as("text"))
      graft.text.Text.bm25TopK(docs, "doc_id", "text",
        Seq("w1", "w13", "w101", "w499"), k = 100).count()
    }

    timed("semantic dedup (cell-bounded)") {
      // rows/250 (default 200k) 16-dim vectors in √N ≈ 450 cells — the
      // SemDeDup sizing: expected block = √N, total pair volume ≈ N·√N/k
      // ≈ N. Planted dups: ids 2k/2k+1 share a vector and a cell, so the
      // expected drop count is exactly n/2. Anything quadratic-in-corpus
      // here would be hours, not seconds.
      val n = rows / 250
      val cells = math.max(1, math.sqrt(n.toDouble).toInt)
      val base = (col("id") / 2).cast("long")
      // components centered on 0: all-positive vectors would crowd the
      // positive orthant (random cos ≈ 0.75) and blur the planted pairs
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (((base * (j + 3)) % 1009).cast("float") - 504.0f)): _*)
          .as("embedding"),
        (base % cells).cast("int").as("cell"))
      graft.similarity.Similarity.semDedup(vecs, "cell", threshold = 0.999)
        .count()
    }

    timed("semDedup hot-cell salting") {
      // adversarial clustering at scale: 5% of rows/250 (default 10k of
      // 200k) vectors crowd into ONE cell. maxBlock=2000 salts that cell
      // into s=5 sub-cells → 15 pair-blocks of ≤ ~2·2000 rows each,
      // spreading the unavoidable within-cell quadratic work across
      // tasks instead of melting one reducer.
      val n = rows / 250
      val cells = math.max(1, math.sqrt(n.toDouble).toInt)
      val base = (col("id") / 2).cast("long")
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (((base * (j + 3)) % 1009).cast("float") - 504.0f)): _*)
          .as("embedding"),
        when(base % 20 === 0, 0)
          .otherwise((base % cells).cast("int") + 1).as("cell"))
      graft.similarity.Similarity.semDedup(vecs, "cell",
        threshold = 0.999, maxBlock = 2000).count()
    }

    timed("streaming rocksdb dedup") {
      // rows/2 (default 25M) events through the streaming exact-dedup
      // shape with the RocksDB state store: 16 parquet files → 16
      // micro-batches, watermarked dropDuplicates over rows/20 distinct
      // keys (default 2.5M live state entries — the "state dwarfs heap"
      // regime the RocksDB provider exists for). Output counts flow
      // through foreachBatch; nothing collects on the driver.
      val n = rows / 2
      val keys = math.max(1L, n / 10)
      val dir = scratch(spark, "graft_scale_stream")
      spark.range(n).select(
        (col("id") % keys).as("user_id"),
        concat(lit("ev_"), (col("id") % 5).cast("string"))
          .as("event_type"),
        expr("timestamp_micros(1600000000000000 + id * 1000)").as("ts"))
        .repartition(16)
        .write.mode("overwrite").parquet(s"$dir/in")
      import graft.streaming.Streams
      val sess = Streams.statefulSession(spark, s"$dir/in", "*.parquet",
        rocksDb = true)
      val deduped = Streams.fileStream(sess, s"$dir/in", "*.parquet")
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
      val total = new java.util.concurrent.atomic.AtomicLong(0L)
      Streams.catchUpEachBatch(deduped, s"$dir/ckpt") { (df, _) =>
        total.addAndGet(df.count()); ()
      }
      total.get()
    }

    timed("pagerank 3 iters") {
      // rows/50 random edges over rows/500 nodes, symmetrized — three
      // shuffle rounds over a staged degree-joined edge list; the driver
      // sees one node count and nothing else
      val n = rows / 500
      val e0 = spark.range(rows / 100).select(
        (col("id") % n).as("a"), ((col("id") * 7919) % n).as("b"))
        .filter(col("a") =!= col("b"))
      val sym = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      graft.graph.Graph.pageRank(sym, "src", "dst", iterations = 3)
        .filter(col("rank_micro") > 0).count()
    }

    timed("trade edges + pagerank") {
      // the q_pagerank family END-TO-END at ~10× the sf0.1 bench
      // volume: build the distinct bipartite trade edge list from a
      // synthetic orders⋈lineitem join (the expensive upstream the
      // bench queries materialize once per snapshot), symmetrize, rank.
      // Shape: one equi-join shuffle + one distinct + the staged
      // 3-iteration loop — nothing quadratic, driver sees one count
      val orders = spark.range(rows / 10).select(col("id").as("ok"),
        (col("id") % (rows / 40)).as("cust"))
      val lines = spark.range(rows / 4).select(
        (col("id") % (rows / 10)).as("ok"),
        ((col("id") * 6007) % 1000).as("supp"))
      val edges = orders.join(lines, "ok")
        .select(col("cust").as("a"),
          (col("supp") + lit(10000000L)).as("b"))
        .distinct()
      val sym = edges.select(col("a").as("src"), col("b").as("dst"))
        .union(edges.select(col("b").as("src"), col("a").as("dst")))
      graft.graph.Graph.pageRank(sym, "src", "dst", iterations = 3)
        .filter(col("rank_micro") > 0).count()
    }

    timed("pagerank directed sinks") {
      // the directed crawl shape at scale: the same trade edges NOT
      // symmetrized, so every supplier node is a dangling sink holding
      // ~half the graph's rank each round. Sink redistribution must
      // cost zero extra jobs (sink sum rides the round's checkpoint
      // observation) and conserve total mass — checked to within one
      // truncation unit per node
      val n = rows / 500
      val e = spark.range(rows / 100).select(
        (col("id") % n).as("src"),
        (((col("id") * 7919) % n) + n).as("dst"))
      val ranks = graft.graph.Graph.pageRank(e, "src", "dst",
        iterations = 3)
      val (total, cnt) = ranks
        .agg(sum(col("rank_micro")), count(lit(1)))
        .as[(Long, Long)].head()
      require(total <= graft.graph.Graph.Scale &&
        total > graft.graph.Graph.Scale - cnt * 4,
        s"directed mass not conserved: $total of ${graft.graph.Graph.Scale} over $cnt nodes")
      cnt
    }

    timed("pagerank converged stop") {
      // the checksum-convergence dial on a REGULAR graph (uniform rank
      // is an exact integer fixpoint): the loop must stop well before
      // the cap instead of paying 30 fixed iterations — the per-round
      // cost saved is the whole point of the stop at lake scale
      val n = rows / 500
      val ring = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1) % n).as("dst"))
      val sym = ring.select(col("src"), col("dst"))
        .union(ring.select(col("dst").as("src"), col("src").as("dst")))
      val (ranks, iters) = graft.graph.Graph.pageRankConverged(
        sym, "src", "dst", maxIterations = 30)
      require(iters < 30, s"no fixpoint within the cap ($iters)")
      ranks.filter(col("rank_micro") > 0).count()
    }

    timed("dsir score (hashed ngrams)") {
      // rows/50 docs × 20 tokens: two token-bucket aggs (map-side
      // combined) + one broadcast of the 4096-row λ table
      val docs = spark.range(rows / 50).select(col("id").as("doc_id"),
        (col("id") % 10 === 0).as("is_t"),
        array_join(transform(sequence(lit(1), lit(20)), j =>
          concat(lit("t"), pmod(col("id") * j, lit(50021)))), " ")
          .as("text"))
      graft.text.Importance.dsirScoreMicro(docs, "doc_id", "text",
          isTarget = col("is_t"), buckets = 4096)
        .filter(col("score_micro") > 0).count()
    }

    timed("triangle count (hub graph)") {
      // rows/50 random edges over rows/500 nodes PLUS a 100k-degree hub:
      // the unoriented wedge pivot at that hub alone would be 10^10
      // pairs; degree orientation gives the hub out-degree ~0 (every
      // neighbor has lower degree), so the edge-iterator stays linear
      val n = rows / 500
      val rand = spark.range(rows / 50).select(
        (col("id") % n).as("a"), ((col("id") * 7919) % n).as("b"))
      val hub = spark.range(100000L).select(
        lit(n).as("a"), (col("id") % n).as("b"))
      graft.graph.Graph.triangleCount(rand.union(hub), "a", "b")
        .head().getLong(0)
      1L
    }

    timed("weighted adamic-adar (hub)") {
      // the hub adversary with support weights: degree orientation caps
      // wedge fan-out exactly as in the unweighted case, and the
      // weight/strength lookups are output-bound equi-joins — weighted
      // scoring must not reopen the hub's d² wedge space. NOTE the
      // sparser graph than the COUNT smoke: AA ENUMERATES triangles
      // (×3 contribution rows), so its honest work is Θ(#triangles) —
      // avg degree ~5 keeps that at a few million, while the count
      // smoke's degree-20 graph holds ~10⁸ triangles that a counting
      // merge-scan absorbs but an enumeration must materialize
      val n = rows / 250
      val rand = spark.range(rows / 100).select(
        (col("id") % n).as("a"), ((col("id") * 7919) % n).as("b"),
        (col("id") % 5 + 1).as("w"))
      val hub = spark.range(10000L).select(
        lit(n).as("a"), ((col("id") * 101) % n).as("b"), lit(2L).as("w"))
      graft.graph.Graph.adamicAdarWeighted(rand.union(hub), "a", "b", "w")
        .filter(col("aa_micro") > 0).count()
    }

    timed("phash banded pairs") {
      // image dedup at rows/2500 media rows: 64-bit average-hash in the
      // codec pass, pigeonhole band join over DISTINCT fingerprints.
      // RAW md5 bytes (unhex) give each PAIR KEY a uniform 0..255 byte
      // distribution hovering at the aHash threshold, so fingerprints
      // are high-entropy and docs pairwise-distinct (text payloads
      // collapse every histogram onto one fingerprint, whose
      // identical-fp expansion is the true-output quadratic); planted
      // pairs (2i, 2i+1) share bytes → hamming 0. The pair count must
      // be planted-dominated, not distribution noise
      import spark.implicits._
      val nm = rows / 2500
      val key = (col("id") / 2).cast("long").cast("string")
      val media = spark.range(nm).select(col("id").as("media_id"),
        lit("image").as("kind"),
        unhex(concat(md5(key), md5(concat(key, lit("x"))),
          md5(concat(key, lit("y"))), md5(concat(key, lit("z")))))
          .as("payload"))
        .as[graft.multimodal.Multimodal.MediaRow]
      val fps = graft.multimodal.Multimodal.aHashStub(media, bins = 64)
        .toDF()
      val cnt = graft.dedup.Dedup.bandedHammingPairs(fps, "media_id",
        "phash", bits = 64, maxHamming = 1).count()
      require(cnt >= nm / 2 && cnt < 20 * nm,
        s"phash pairs not planted-dominated: $cnt for $nm media")
      cnt
    }

    timed("streaming lsh dedup probe") {
      // continuous-ingestion dedup at rows/500 docs: arrivals stream in
      // and probe the STATIC banded index per micro-batch; per-batch
      // cost is |batch|·bands + matched buckets, independent of corpus
      // size. Planted near-dups: doc 17k shares text with doc 17k+1
      import spark.implicits._
      val nd = rows / 500
      val tmp = scratch(spark, "graft_lsh_smoke")
      spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 12).map(j => concat(lit(s"w${j}x"),
            ((col("id") - col("id") % 17 % 2) * (j * 37 + 11))
              .cast("string"))): _*).as("text"))
        .coalesce(4).write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val ckpt = scratch(spark, "graft_lsh_smoke_ck")
      val out = scratch(spark, "graft_lsh_smoke_out") + "/dec"
      val dec = graft.streaming.Streams.lshDedupStream(spark,
        s"$tmp/documents.parquet", ckpt, out,
        numPerms = 8, numBands = 4, threshold = 0.8,
        glob = "*.parquet")
      val dropped = dec.filter(!col("keep")).count()
      require(dropped > 0, "planted near-dups must be dropped")
      dec.count()
    }

    timed("label propagation 2 rounds") {
      // rows/100 ring-ish edges over rows/500 nodes in 1000 disjoint
      // blocks (planted communities): per round one message shuffle +
      // one (node,label) count agg + a per-node argmax window bounded
      // by degree — no round ever exceeds edge volume
      val n = rows / 500
      val blk = n / 1000
      val e = spark.range(rows / 100).select(
        (col("id") % n).as("a"),
        // neighbor within the same block → communities stay planted
        ((col("id") % n) - ((col("id") % n) % blk) +
          ((col("id") * 7919) % blk)).as("b"))
        .filter(col("a") =!= col("b"))
      graft.graph.Graph.labelPropagation(e, "a", "b", rounds = 2)
        .select(countDistinct(col("community"))).head().getLong(0)
    }

    timed("k-anonymity count-join gate") {
      // fact volume through a map-side-combined quasi-key count + a
      // null-safe join-back (deliberately NOT a window: a window
      // buffers each group in one task and a dominant quasi value
      // becomes a straggler). Skewed group sizes — 6/7 of rows land in
      // ~1000 fat groups, 1/7 in per-key groups of ~7 rows that fall
      // below k=100 and must come back masked
      graft.ops.relational.kAnonymity(
        fact.select(col("k").as("id"),
          when(col("f") === 0, col("k")).otherwise(col("k") % 1000)
            .as("q1"),
          col("f").cast("string").as("q2")),
        Seq("q1", "q2"), k = 100)
        .filter(col("suppressed")).count()
    }

    timed("rank-normalize mega-group") {
      // 90% of rows in ONE source: the windowed percent_rank would put
      // 45M rows in a single task; the range-partition + offset-lift
      // form spreads the sort and only ships (partition × group) offset
      // rows. Keep-quota output on the dominant group proves the global
      // rank survived the lift.
      val docs = spark.range(rows).select(col("id").as("doc_id"),
        when(col("id") % 10 < 9, lit("mega"))
          .otherwise(concat(lit("s"), (col("id") % 97).cast("string")))
          .as("source"),
        (col("id") % 100003).cast("double").as("score"))
      graft.text.Text.rankNormalize(docs, "source", col("score"),
        "doc_id", keepTop = 0.01)
        .filter(col("keep")).count()
    }

    timed("bloom probe scan-local") {
      // 1M-entry bloom built once (bounded bytes), then a scan-local
      // might_contain over every fact row — the decontamination shape
      // with no join at all
      val bf = spark.range(1000000L)
        .agg(call_function("graft_bloom_agg", xxhash64(col("id")),
          lit(1000000L), lit(1L << 23)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      spark.range(rows).select(
          call_function("graft_might_contain", lit(bf),
            xxhash64(col("id") % (rows / 25))).as("hit"))
        .filter(col("hit")).count()
    }

    timed("naive bayes train+score") {
      // rows/50 docs × 20 tokens, 8 classes: count-training is two
      // map-side-combined aggs; the 4096×8 weight grid + 8-row prior
      // broadcast onto the per-(doc,bucket) histogram — no shuffle ever
      // carries more than the histogram, regardless of corpus size
      val docs = spark.range(rows / 50).select(col("id").as("doc_id"),
        concat(lit("c"), (col("id") % 8)).as("cls"),
        array_join(transform(sequence(lit(1), lit(20)), j =>
          concat(lit("t"), pmod(col("id") * j + col("id") % 8,
            lit(50021)))), " ").as("text"))
      graft.text.Importance.naiveBayes(docs, "doc_id", "text", "cls",
          trainPred = col("doc_id") % 2 === 0, buckets = 4096)
        .filter(col("pred") === concat(lit("c"), col("doc_id") % 8))
        .count()
    }

    timed("source KL drift") {
      // rows/50 docs × 20 tokens over 1000 sources: the only
      // token-volume shuffle is the (source, bucket) count agg; the
      // dense 4096-bucket × 1000-source smoothing grid re-aggregates
      // that bounded table
      val docs = spark.range(rows / 50).select(col("id").as("doc_id"),
        concat(lit("s"), col("id") % 1000).as("source"),
        array_join(transform(sequence(lit(1), lit(20)), j =>
          concat(lit("t"), pmod(col("id") * j + col("id") % 1000,
            lit(50021)))), " ").as("text"))
      graft.text.Importance.sourceDivergence(docs, "source", "text",
        buckets = 4096).filter(col("kl") >= 0.0).count()
    }

    timed("token budget mix") {
      // rows/50 docs over 1000 sources, 900-token quota each: the rank
      // pre-cut group-limits per partition before any sort sees a full
      // source — kept rows ≈ 1000 × (900 / avg_len)
      val docs = spark.range(rows / 50).select(col("id").as("doc_id"),
        concat(lit("s"), col("id") % 1000).as("source"),
        array_join(transform(sequence(lit(1),
          (col("id") % 40 + 10).cast("int")), j =>
          concat(lit("w"), j)), " ").as("text"))
      graft.text.Text.tokenBudgetMix(docs, "doc_id", "text", "source",
        budgetTokens = 900L).count()
    }

    timed("connected components") {
      // rows/50 edges forming ten-node chains — the diameter-bound case
      // for label propagation; pointer doubling collapses a 10-hop chain
      // in ~4 rounds (near-dup cliques converge in 1)
      val e = spark.range(rows / 50)
        .filter(col("id") % 10 =!= 9)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      graft.dedup.Dedup.connectedComponents(e, "a", "b")
        .filter(col("is_canonical")).count()
    }

    // rows/50 (default 1M) synthetic 64-dim float vectors, shared by the
    // vector-op smokes below
    def vecs64 = spark.range(rows / 50).select(col("id").as("vec_id"),
      array((0 until 64).map(j =>
        (((col("id") + 1) * (j + 3)) % 997).cast("float") / 997f): _*)
        .as("embedding"))

    timed("pca fit+project 1 pass") {
      // the d(d+1)/2-element scan-local expansion must stay map-side
      // combined: shuffle carries ~2k rows/partition, the d×d eigen is
      // driver-bounded, the projection one broadcast — the whole fit +
      // apply is a single corpus pass plus scan-local work
      graft.similarity.Similarity.pcaProjectFitted(
        vecs64, "vec_id", "embedding", dim = 64, k = 4)
        .filter(col("coord") > 1e9).count() // impossible: forces full eval
    }

    timed("int8 quantize + search") {
      // calibration (d-row shuffle), scan-local encode of the full
      // corpus, then 8 queries against the reconstructed codes — the
      // corpus side streams codes, never raw floats; per-partition
      // top-k bounds the window input
      val s = graft.similarity.Similarity
      val params = s.int8QuantParams(vecs64, "embedding", dim = 64)
      s.int8TopK(vecs64.filter(col("vec_id") < 8),
        s.int8Quantize(vecs64, "vec_id", "embedding", params),
        params, k = 5).count()
    }

    timed("jl projection 64→8") {
      // broadcast sign matrix, scan-local dot — no shuffle at all until
      // the count's final agg
      graft.similarity.Similarity.rpProject(
        vecs64, "vec_id", "embedding", dim = 64, k = 8)
        .filter(col("coord") > 1e9).count()
    }

    timed("association rules") {
      // market-basket rules at 10M incidence rows (1M baskets × ~10
      // items): the pair expansion is bounded by basket size (m²/2 per
      // basket), supports combine map-side, and the min-support cut
      // lands before the direction fan-out and joins
      val inc = spark.range(rows / 5).select(
        (col("id") / 10).cast("long").as("basket"),
        // ~100k item vocabulary with skew: small ids recur everywhere
        (col("id") * 2654435761L % 100003L).as("item"))
      graft.ops.baskets.associationRules(inc, "basket", "item",
        minSupport = 3).count()
    }

    timed("nearest-centroid classify") {
      // labeled-eval classifier at corpus scale: the fit is one
      // |labels|·d-row map-side-combined agg, classification is pure
      // map work over the single broadcast centroid row — the corpus
      // never shuffles, so this runs at scan speed
      graft.similarity.LabelEval.nearestCentroidClassify(
        vecs64.withColumn("label", (col("vec_id") % 10).cast("int")),
        "vec_id", "embedding", "label")
        .filter(col("correct") < 0).count() // impossible: forces full eval
    }

    timed("containment pairs (prefix)") {
      // same planted near-dup corpus as the jaccard smoke: the
      // asymmetric join's B-side inverted index is corpus-token-sized
      // but meets only rare A-prefix grams — candidate-bounded, not
      // quadratic, at ~40× the sf0.1 corpus
      val nd = rows / 250
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 40).map(j =>
            concat(lit(s"w${j}_"),
              (((col("id") / 2).cast("long") * (j + 7)) % 9973)
                .cast("string"))) :+
            concat(lit("tail_"), (col("id") % 2).cast("string")): _*)
          .as("text"))
      graft.dedup.Dedup.containmentPairs(docs, k = 3, threshold = 0.5)
        .count()
    }

    timed("tfidf pairs (inverted idx)") {
      // rows/500 docs over a 10k-term vocabulary with planted dup pairs;
      // df pruning caps any term's posting list, so the pair join's
      // fan-out is Σ df² over SURVIVING terms — bounded by construction
      val nd = rows / 500
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 20).map(j =>
            concat(lit(s"t${j}_"),
              (((col("id") / 2).cast("long") * (j + 11)) % 499)
                .cast("string"))): _*).as("text"))
      graft.text.Text.tfidfCosinePairs(docs, "doc_id", "text",
        maxDfFrac = 0.01, threshold = 0.8).count()
    }

    timed("tfidf pairs (stop-token)") {
      // the df² adversary with NO df pruning (maxDfFrac = 1.0): one
      // stop token spans 50% of docs, so a naive postings self-join
      // fans out (nd/2)² rows on that token alone. The prefix filter
      // must exclude it from every prefix (near-zero idf → near-zero
      // suffix energy), leaving candidates ≈ the planted pairs: doc
      // 2i and 2i+1 share 6 unique rare tokens (cos ≈ 1)
      val nd = rows / 500
      val docs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ",
          // no '_' in the tokens: the tokenizer splits on it
          (0 until 6).map(j =>
            concat(lit(s"r${j}x"),
              (col("id") / 2).cast("long").cast("string"))) :+
            when(col("id") % 2 === 0, lit("the")).otherwise(lit("")):
            _*).as("text"))
      val w = graft.text.Text.tfidfWeights(docs, "doc_id", "text",
        maxDfFrac = 1.0)
      val cands = graft.text.Text.tfidfCandidates(w, threshold = 0.8)
        .count()
      // candidate volume must be output-bound (≈ nd/2 planted pairs),
      // NOT df²-bound ((nd/2)² from the stop token's posting list)
      require(cands < nd,
        s"prefix filter leaked the stop token: $cands candidates " +
          s"for $nd docs (df² would be ${nd / 2}²)")
      val found = graft.text.Text.tfidfCosinePairs(docs, "doc_id",
        "text", maxDfFrac = 1.0, threshold = 0.8).count()
      require(found == nd / 2,
        s"expected ${nd / 2} planted pairs, got $found")
      cands
    }

    timed("sweepline 1-key concurrency") {
      // the adversary for a naive running-sum window: EVERY interval
      // under one key, so Window.partitionBy(key) would sort the whole
      // 2·n boundary stream in a single task. The bucketed prefix sum
      // must hold its inner partitions to one day of one key. Cross-
      // check at full scale: the sweep's running count at the last
      // boundary <= a probe instant must equal a brute scan-and-count
      // of intervals open at that instant.
      val n = rows / 5
      val span = 90L * 86400
      val iv = spark.range(n).select(lit("g").as("key"),
        (lit(1700000000L) + (col("id") * 7919L) % span)
          .cast("timestamp").as("s"),
        (lit(1700000000L) + (col("id") * 7919L) % span + 3600L +
          (col("id") * 104729L) % 82800L).cast("timestamp").as("e"))
      val probe = 1700000000L + 40L * 86400
      val run = graft.ops.sweepline.concurrency(iv, "key", "s", "e",
          bucketSeconds = 86400L)
        .filter(col("ts").cast("long") <= probe)
        .agg(max(struct(col("ts"), col("running"))).as("m"))
        .select(col("m.running")).as[Long].head()
      val brute = iv.filter(col("s").cast("long") <= probe &&
        col("e").cast("long") > probe).count()
      require(run == brute, s"sweep says $run open at probe, brute $brute")
      run
    }

    timed("interval overlap planted") {
      // n interval pairs on a shared timeline: a_i = [100i, 100i+50),
      // b_i = [100i+25, 100i+75) — each b overlaps exactly its own a,
      // so the binned join with ownership dedup must return exactly n
      // rows, never a multi-bin duplicate
      val n = rows / 10
      val a = spark.range(n).select(col("id").as("a_id"),
        (lit(1700000000L) + col("id") * 100L).cast("timestamp").as("as"),
        (lit(1700000050L) + col("id") * 100L).cast("timestamp").as("ae"))
      val b = spark.range(n).select(col("id").as("b_id"),
        (lit(1700000025L) + col("id") * 100L).cast("timestamp").as("bs"),
        (lit(1700000075L) + col("id") * 100L).cast("timestamp").as("be"))
      val got = graft.ops.rangejoin.intervalOverlapJoin(
        a, "as", "ae", b, "bs", "be", binSeconds = 64L).count()
      require(got == n, s"expected $n planted overlaps, got $got")
      got
    }

    timed("allen relations planted") {
      // same planted layout as the overlap smoke: every pair is in
      // exactly the `overlaps` relation, and the inclusive-end binning
      // must still produce exactly one row per pair
      val n = rows / 10
      val a = spark.range(n).select(col("id").as("a_id"),
        (lit(1700000000L) + col("id") * 100L).cast("timestamp").as("as"),
        (lit(1700000050L) + col("id") * 100L).cast("timestamp").as("ae"))
      val b = spark.range(n).select(col("id").as("b_id"),
        (lit(1700000025L) + col("id") * 100L).cast("timestamp").as("bs"),
        (lit(1700000075L) + col("id") * 100L).cast("timestamp").as("be"))
      val rel = graft.ops.rangejoin.allenRelations(
          a, "as", "ae", b, "bs", "be", binSeconds = 64L)
        .groupBy("relation").agg(count(lit(1)).as("c"))
        .as[(String, Long)].collect().toMap
      require(rel == Map("overlaps" -> n),
        s"expected $n pure overlaps, got $rel")
      n
    }

    timed("time-weighted avg mega-key") {
      // ONE key holding every interval: the TWA aggregate must stay a
      // plain hash agg (no per-key window, no sort) — planted constant
      // value makes the expected TWA exact
      val iv = spark.range(rows / 10).select(lit("k").as("k"),
        (lit(1700000000L) + col("id") * 10L).cast("timestamp").as("s"),
        (lit(1700000000L) + col("id") * 10L + (col("id") % 100L) + 1L)
          .cast("timestamp").as("e"),
        lit(42.5).as("price"))
      val got = graft.ops.timeseries
        .timeWeightedAvg(iv, "k", "s", "e", "price")
        .select(col("twa_cents")).as[Long].head()
      require(got == 4250L, s"constant-price TWA must be 4250, got $got")
      rows / 10
    }

    timed("hits 2 iters (hub graph)") {
      // bipartite customers→suppliers with a power-ish hub: supplier 0
      // receives 10% of all edges, so its raw in-sum stresses the
      // decimal normalization path; 2 iterations, zero driver state
      // beyond the per-round observed totals
      val e = spark.range(rows / 25).select(
        (col("id") % (rows / 500)).as("src"),
        when(col("id") % 10 === 0, lit(1000000000L))
          .otherwise(lit(1000000000L) + (col("id") % 5000)).as("dst"))
      val top = graft.graph.Graph.hits(e, "src", "dst", iterations = 2)
        .orderBy(col("auth_micro").desc).limit(1)
        .select("node").as[Long].head()
      require(top == 1000000000L, s"hub supplier must top authority: $top")
      rows / 25
    }

    timed("kcore peel 3 rounds") {
      // ring + pendant mix: ring nodes keep degree 2 forever, pendant
      // chains peel — survivor count is exactly the ring size
      val n = rows / 100
      val ring = spark.range(n).select(col("id").as("a"),
        ((col("id") + 1) % n).as("b"))
      val pendants = spark.range(n / 10).select(col("id").as("a"),
        (col("id") + n * 10).as("b"))
      val kept = graft.graph.Graph.kCorePeel(
        ring.unionAll(pendants), "a", "b", k = 2, rounds = 3).count()
      require(kept == n, s"ring of $n must survive k=2 peel, got $kept")
      kept
    }

    timed("bfs frontier stays bounded") {
      // a LONG chain (rows/50 nodes) probed 3 hops from node 0: every
      // round's frontier is ONE node — if rounds were |V|-sized this
      // would be 3 full scans of a multi-million-node state; planted
      // answer is exactly hops 0..3
      val n = rows / 50
      val chain = spark.range(n - 1).select(col("id").as("s"),
        (col("id") + 1).as("d"))
      val got = graft.graph.Graph.bfsHops(chain, "s", "d",
        Seq(0L).toDF("node"), maxHops = 3)
      require(got.count() == 4L, "chain BFS must settle exactly 4 nodes")
      n
    }

    timed("bfs early stop on star") {
      // star: hop 1 reaches everything, round 2's frontier is empty —
      // the observed n_new metric must stop the loop well before the
      // 50-round cap (wall-time is the assertion here)
      val n = rows / 50
      val star = spark.range(n).select(lit(0L).as("s"),
        (col("id") + 1).as("d"))
      val cnt = graft.graph.Graph.bfsHops(star, "s", "d",
        Seq(0L).toDF("node"), maxHops = 50).count()
      require(cnt == n + 1, s"star BFS must reach all ${n + 1}: $cnt")
      cnt
    }

    timed("weighted pagerank hub") {
      // every source splits 1000:1 between supplier 7 and a spread
      // supplier — rank must follow the weight, and the decimal
      // product path must survive big rank·w values
      val e = spark.range(rows / 25).select(
        (col("id") % (rows / 500)).as("src"),
        when(col("id") % 2 === 0, lit(1000000007L))
          .otherwise(lit(1000000100L) + col("id") % 4000).as("dst"),
        when(col("id") % 2 === 0, lit(1000L)).otherwise(lit(1L)).as("w"))
      val top = graft.graph.Graph.pageRankWeighted(e, "src", "dst", "w",
          iterations = 2)
        .orderBy(col("rank_micro").desc).limit(1)
        .select("node").as[Long].head()
      require(top == 1000000007L, s"heavy-edge supplier must top: $top")
      rows / 25
    }

    timed("sorted neighborhood skew") {
      // ALL rows share one blocking key — the degenerate case where
      // equi-blocking is n² but the sorted window stays n·(w−1)
      val n = rows / 100
      val docs = spark.range(n).select(col("id"), lit("same").as("k"))
      val cnt = graft.dedup.Dedup
        .sortedNeighborhoodPairs(docs, "id", "k", window = 5).count()
      require(cnt == 4 * n - 10, s"window pairs must be 4n-10: $cnt")
      cnt
    }

    timed("pmi window-bounded pairs") {
      // planted collocation "qq zz" leads every doc; pair volume is
      // n_tokens·window. Rare deterministic fillers TIE the planted
      // pair on PMI (conditional probability 1 either way — the
      // classic rare-pair bias), so the minCount guard is what
      // isolates it: a filler pairs with zz from two slots (n/97 +
      // n/89 ≈ 0.0215n), so above n/40 only the planted pair survives
      val n = rows / 500
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat(lit("qq zz t"), (col("id") % 97).cast("string"),
          lit(" t"), (col("id") % 89).cast("string"),
          lit(" t"), (col("id") % 83).cast("string")).as("text"))
      val got = graft.text.Text.pmiPairs(docs, "doc_id", "text",
          window = 2, minCount = math.max(n / 40, 1), topK = 10)
        .select("tok_a", "tok_b").as[(String, String)].collect().toSeq
      require(got == Seq(("qq", "zz")),
        s"minCount must isolate the planted collocation: $got")
      n
    }

    timed("ohlc single hash agg") {
      // one key, rows/50 ticks into ~1000 bars — no per-key sort
      // window may exist, so a single hot key must still parallelize
      val n = rows / 50
      // bar-aligned base (1699999200 = 3600·472222): exactly 1000 bars
      val ticks = spark.range(n).select(lit("k").as("k"),
        (lit(1699999200L) + (col("id") % 1000) * 3600 + col("id") % 7)
          .cast("timestamp").as("ts"),
        col("id").as("tie"), (col("id") % 997).cast("double").as("v"))
      val bars = graft.ops.timeseries
        .ohlcBars(ticks, "k", "ts", "v", "tie", barSeconds = 3600L)
      require(bars.count() == 1000L, "expected exactly 1000 bars")
      n
    }

    timed("golden records merge") {
      // clusters of 5 consecutive ids via chain pairs; survivorship
      // must produce exactly n/5 entities with 5 members each
      val n = rows / 100
      val docs = spark.range(n).select(col("id").as("doc_id"),
        (col("id") % 997).cast("int").as("n_chars"))
      val pairs = spark.range(n).filter(col("id") % 5 =!= 4)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val ents = graft.dedup.Dedup.goldenRecords(docs, "doc_id", pairs,
        "doc_a", "doc_b", "n_chars")
      val (cnt, bad) = (ents.count(),
        ents.filter(col("n_members") =!= 5).count())
      require(cnt == n / 5 && bad == 0,
        s"expected ${n / 5} 5-member entities, got $cnt ($bad wrong)")
      cnt
    }

    timed("cusum planted level shift") {
      // rows/50 keys × 50 steps; even keys shift 10→20 at step 25, odd
      // keys stay flat. Peak-only flags (hotFrac10=10) must land exactly
      // one row per shifted key, all at the same step — proves the flag
      // volume is |changed keys|, not rows
      // key named "u": the operator's output contract itself carries a
      // rank column named "k"
      val ev = fact.select(col("k").as("u"),
        col("seq").cast("long").as("t"),
        (col("k") * 100 + col("seq")).as("tie"),
        when(col("k") % 2 === 0 && col("seq") >= 25, 20.0)
          .otherwise(10.0).as("v"))
      val flags = graft.ops.timeseries.cusumChangepoints(
        ev, "u", "t", "tie", "v", hotFrac10 = 10).stage()
      val (n, ks, nk) = (flags.count(),
        flags.select("u").distinct().count(),
        flags.select(col("u") % 2).distinct().count())
      require(n == ks && nk == 1,
        s"expected one peak per shifted key: n=$n keys=$ks parities=$nk")
      n
    }

    timed("skyline value-space bound") {
      // 50M points over a 50-value discrete dim → output ≤ 50 however
      // large the input; the frontier frame never exceeds |x values|
      val pts = spark.range(rows).select(col("id").as("pid"),
        (col("id") % 50).cast("int").as("x"),
        ((col("id") * 2654435761L) % 1000003L).as("y"))
      val sky = graft.ops.analytics.skyline2(pts, "x", "y")
      val n = sky.count()
      require(n > 0 && n <= 50, s"skyline blew past the value space: $n")
      n
    }

    timed("cms sketch stays 4x1024") {
      val keys = fact.select(col("k"))
      val sk = graft.ops.sketches.cmsBuild(keys, "k", 4, 1024).stage()
      require(sk.count() <= 4096, "sketch exceeded d*w cells")
      val probes = spark.range(100).select((col("id") * 1000).as("k"))
      val est = graft.ops.sketches.cmsEstimate(sk, probes, "k", 4, 1024)
      val truth = keys.join(probes.select(col("k")), Seq("k"))
        .groupBy("k").agg(count(lit(1)).as("true_c"))
      val under = est.join(truth, Seq("k"))
        .filter(col("est") < col("true_c")).count()
      require(under == 0, s"cms under-counted $under probes")
      est.count()
    }

    timed("auc rank tie blocks") {
      // 50M rows collapse to 9973 distinct-score blocks before the
      // single-task prefix sum — the rank axis never materializes
      val scored = fact.select(col("v").cast("long").as("s"),
        (col("f") === 0).as("pos"))
      val r = graft.similarity.LabelEval.aucRank(scored, "s", "pos")
        .select(col("p") + col("n")).as[Long].head()
      require(r == rows, s"p+n=$r != $rows")
      1L
    }

    timed("trimmed mean block clip") {
      val g = fact.select((col("k") % 5).as("grp"),
        col("v").cast("long").as("x"))
      val tm = graft.ops.analytics.trimmedMean(g, "grp", "x", 10)
      val n = tm.count()
      require(n == 5, s"expected 5 groups, got $n")
      n
    }

    timed("seq patterns type-bounded") {
      // 50M events, 8 types: the pair join is |types|² per key — output
      // can never exceed 8·7 ordered pairs however many events flow in
      val ev = fact.select(col("k").as("u"),
        col("seq").cast("long").as("t"),
        (col("k") * 100 + col("seq")).as("tie"),
        concat(lit("t"), (col("k") + col("seq")) % 8).as("typ"))
      val n = graft.ops.baskets.sequentialPairs(ev, "u", "typ", "t",
        "tie").count()
      require(n <= 56, s"pair fan-out exceeded the type space: $n")
      n
    }

    timed("landmark state k x reach") {
      // chain of rows/50 nodes, 3 landmarks, 4 hops: settled state must
      // be exactly k·(maxHops+1) rows (each landmark reaches 4 ahead)
      val chain = spark.range(rows / 50 - 1)
        .select(col("id").as("s"), (col("id") + 1).as("d"))
      val lms = Seq(0L, rows / 150, rows / 100).toDF("node")
      val got = graft.graph.Graph.landmarkDistances(chain, "s", "d",
        lms, maxHops = 4)
      val n = got.count()
      require(n == 15, s"expected 3 landmarks x 5 rows, got $n")
      n
    }

    timed("rolling hll window reuse") {
      // 50M rows over 64 synthetic days: 64 daily sketches built once,
      // each window unions ≤7 — the estimate never rescans the rows
      // uid modulus PRIME (999983) and coprime with the 64-day cycle:
      // any modulus sharing a factor with 64 hands each day a disjoint
      // uid slice (64 | 10⁶ — found the hard way) and the windows
      // under-count by design instead of by error
      val ev = spark.range(rows).select(
        expr("date_add(date '2024-01-01', cast(id % 64 as int))")
          .as("day"),
        ((col("id") * 2654435761L) % 999983L).as("uid"))
      val daily = ev.groupBy("day")
        .agg(hll_sketch_agg(xxhash64(col("uid"))).as("sk")).stage()
      val cal = daily.select(col("day").as("anchor"))
      val est = cal.join(daily,
          datediff(col("anchor"), col("day")).between(0, 6))
        .groupBy("anchor")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      // coupon-collector expectation for a full 7-day window, with
      // generous slack for edge windows + sketch error
      val draws = 7.0 * rows / 64
      val expect = 999983.0 * (1 - math.exp(-draws / 999983.0))
      // only FULL windows carry 7 days of draws; the first six anchors
      // are partial by construction
      val bad = est.filter(col("anchor") >= lit("2024-01-07") &&
        col("est") < (expect * 0.5).toLong).count()
      val n = est.count()
      require(n == 64 && bad == 0,
        s"windows=$n under-estimates=$bad (expect ≈ ${expect.toLong})")
      n
    }

    timed("clustering coeff cliques") {
      // rows/50 disjoint 4-cliques: every node must score exactly 1.0
      // and work stays output-bound (6 edges, 4 corner rows per clique)
      val c = spark.range(rows / 50)
      val cliqueEdges = c.select(explode(expr(
        """array(struct(id*4 AS a, id*4+1 AS b),
                 struct(id*4 AS a, id*4+2 AS b),
                 struct(id*4 AS a, id*4+3 AS b),
                 struct(id*4+1 AS a, id*4+2 AS b),
                 struct(id*4+1 AS a, id*4+3 AS b),
                 struct(id*4+2 AS a, id*4+3 AS b))""")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val cc = graft.graph.Graph.clusteringCoefficient(
        cliqueEdges, "a", "b").stage()
      val bad = cc.filter(col("cc_micro") =!= 1000000L ||
        col("degree") =!= 3L).count()
      val n = cc.count()
      require(bad == 0 && n == (rows / 50) * 4,
        s"clique cc wrong: n=$n bad=$bad")
      n
    }

    // the two-level global prefix sum: full-corpus total order with no
    // single-task window — the only unpartitioned frame is the ≤cpus-row
    // offsets table. Checks the closed-form answer on the unique key.
    timed("distributed prefix sum") {
      val ps = windows.distributedPrefixSum(
        spark.range(rows).select(col("id"), lit(1L).as("one")),
        Seq(col("id")), col("one"))
      // for order by id with value 1: cum == rk == id+1 — verify on a
      // 1-in-1M sample plus the global max
      val bad = ps.filter(col("id") % 1000000 === 0 &&
        (col("cum") =!= col("id") + 1 || col("rk") =!= col("id") + 1))
        .count()
      val mx = ps.agg(max(col("cum"))).head.getLong(0)
      require(bad == 0 && mx == rows, s"prefix sum wrong: bad=$bad mx=$mx")
      rows
    }

    // HTML parse is scan-local string work: pages render and parse in
    // the same task, no exchange anywhere — throughput is the measure
    timed("html table parse") {
      val pages = spark.range(rows / 500).select(
        col("id").as("page"),
        graft.sources.HtmlTables.renderPage(Seq(
          Seq("g" -> 2), Seq("a" -> 1, "b" -> 1)))(
          expr("transform(sequence(0, 19), i -> " +
            "array(cast(id AS STRING), cast(i AS STRING)))")).as("html"))
      val cells = graft.sources.HtmlTables
        .table(pages, "page", "html", headerRows = 2)
      val n = cells.count()
      require(n == (rows / 500) * 20 * 2, s"cell count wrong: $n")
      n
    }

    // real codecs are partition-local mapPartitions seams: encode+decode
    // round trips per task, zero shuffle — images then audio
    timed("imageio codec throughput") {
      import spark.implicits._
      val ids = spark.range(rows / 5000)
        .select((col("id") * 3).as("doc_id"), lit("x").as("text"))
      val metas = graft.multimodal.Multimodal.decodeImageMeta(
        graft.multimodal.Multimodal.syntheticImages(spark, ids))
      val n = metas.filter(col("width") >= 8).count()
      require(n == rows / 5000, s"image decode count wrong: $n")
      n
    }

    timed("wav codec throughput") {
      val ids = spark.range(rows / 5000)
        .select((col("id") * 3 + 1).as("doc_id"), lit("x").as("text"))
      val metas = graft.multimodal.Multimodal.decodeAudioMeta(
        graft.multimodal.Multimodal.syntheticAudio(spark, ids))
      val n = metas.filter(col("n_samples") >= 256).count()
      require(n == rows / 5000, s"audio decode count wrong: $n")
      n
    }

    // suffix array at rows/10 token positions: synthetic docs of 40
    // tokens over a 997-word vocab (prime — decorrelated from the doc
    // cycle) with every 7th doc a verbatim dup of its predecessor, so
    // terminal rank ties exist and the loop runs its full depth. The
    // permutation invariant checks the build end to end.
    timed("suffix array prefix doubling") {
      val nDocs = rows / 10 / 40
      val base = col("id") -
        when(col("id") % 7 === 0 && col("id") > 0, 1L).otherwise(0L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(j =>
          concat(lit("w"), (base * 40 + j) % 997)): _*).as("text"))
      val sa = graft.text.SuffixArray.suffixArray(docs, "doc_id", "text")
        .stage() // permutation check + decontamination both read it
      val n = sa.agg(count(lit(1)).as("c"),
          max(col("sa_rank")).as("m"), min(col("sa_rank")).as("lo"))
        .filter(col("c") === col("m") && col("lo") === 1L)
        .head().getLong(0)
      require(n == nDocs * 40, s"sa permutation broken: $n")
      // SA-block decontamination rides the SAME built index: every
      // id%7==0 doc repeats its predecessor's token block (the planted
      // dup), so with bench = the even docs, flagged train docs are
      // exactly the odd members of planted pairs — block construction,
      // prefix sum, and the flag join all at index scale, no gram
      // explosion anywhere
      val flagged = graft.text.SuffixArray.contaminatedPositions(
          sa, docs, "doc_id", "text", isBench = _ % 2 === 0, minLen = 5)
        .count()
      require(flagged > 0, "planted cross-corpus dups must be flagged")
      n
    }

    // random walks on a hub-heavy graph: rank-indexed hops mean a hub
    // with rows/500 neighbors costs a walk ONE probe, not a fan-out —
    // walk-step row count stays exactly linear in walks
    timed("random walks hub probe") {
      val hubEdges = spark.range(rows / 500)
        .select(lit(0L).as("src"), (col("id") + 1).as("dst"))
      val chain = spark.range(rows / 500)
        .select((col("id") + 1).as("src"),
          ((col("id") + 1) % (rows / 500) + 1).as("dst"))
      val e = hubEdges.union(chain)
        .union(hubEdges.select(col("dst").as("src"), col("src").as("dst")))
      val walks = graft.graph.Walks.randomWalks(e, "src", "dst",
        walksPerNode = 1, steps = 3)
      val n = walks.count()
      require(n <= (rows / 500 + 1) * 4, s"walk state superlinear: $n")
      n
    }

    // quantile sketch: bucket frame stays value-space bounded (<= 64*2^5)
    // no matter the row count; the bound verdict must hold at size
    timed("quantile sketch bounded") {
      val rep = graft.ops.qsketch.quantileReport(
        fact.select((col("v").cast("long") * col("k") % 999983L + 1L)
          .as("x")), "x", s = 5, permilles = Seq(10, 500, 990))
      val ok = rep.filter(col("within_bound")).count()
      require(ok == 3, s"quantile bound violated: $ok/3")
      ok
    }

    // per-group sketch: groups × value-space bounded frame — 100k
    // groups over `rows` values, probe fan-out stays report-sized
    timed("grouped quantile sketch") {
      val got = graft.ops.qsketch.groupedQuantiles(
        fact.select((col("k") % 100000L).as("g"),
          (col("v").cast("long") * 31 % 999983L + 1L).as("x")),
        "g", "x", s = 4, permilles = Seq(500, 990))
      val n = got.count()
      require(n == 200000L, s"expected 2 probes per group, got $n")
      n
    }

    // waterfill: the breakpoint scan is two distributed prefix sums
    // over a 5M-source frame — no single-task window, exact decimal
    timed("epoch waterfill 5M sources") {
      val nSrc = math.max(rows / 10, 1000L)
      val srcs = spark.range(nSrc).select(col("id").as("s"),
        (col("id") % 997L + 1L).as("n"),
        ((col("id") % 5L + 1L) * 1000L).as("m"))
      val plan = graft.text.Mixing.epochWaterfill(srcs, "s", "n", "m",
        budgetTokens = nSrc * 499L * 2L)
      val agg = plan.agg(
        sum(col("alloc_tokens").cast("decimal(38,0)")).as("spent"),
        count(lit(1)).as("c")).head()
      val spent = agg.getDecimal(0)
      require(agg.getLong(1) == nSrc, "every source must be planned")
      // never overspends the budget (in whole tokens)
      require(spent.compareTo(new java.math.BigDecimal(
        nSrc * 499L * 2L)) <= 0, s"overspent: $spent")
      agg.getLong(1)
    }

    // exact KS at size: two planted uniforms offset by half their
    // support have D = 0.5 EXACTLY — the integer cross-multiplication
    // must land on 500000 micro on the nose, at any row count divisible
    // by the support
    timed("ks drift planted uniform") {
      require(rows >= 20000,
        s"ks smoke needs rows >= 20000 for non-empty sides, got $rows")
      val n2 = (rows / 20000) * 10000 // both sides a multiple of 10k
      val a = spark.range(n2).select((col("id") % 10000L).as("v"),
        lit(true).as("isa"))
      val b = spark.range(n2).select((col("id") % 10000L + 5000L).as("v"),
        lit(false).as("isa"))
      val got = graft.ops.analytics.ksDrift(a.unionByName(b),
        col("isa"), "v").head()
      require(got.getLong(2) == 500000L,
        s"planted KS off: ${got.getLong(2)}")
      got.getLong(0) + got.getLong(1)
    }

    // incremental CC: label stars + a planted merge chain converge in
    // rounds bounded by the NEW chain's diameter — the at-rest history
    // (rows/100 singleton clusters) never re-propagates
    timed("incremental cc star merge") {
      val nOld = rows / 100
      val labels = spark.range(nOld).select(col("id").as("doc_id"),
        (col("id") - col("id") % 2).as("comp")) // pairs (2k, 2k+1)
      val newPairs = spark.range(50).select(
        (col("id") * 2 + 1).as("a"), (col("id") * 2 + 2).as("b"))
      val merged = graft.dedup.Dedup.incrementalComponents(
        labels, "doc_id", "comp", newPairs, "a", "b")
      // the planted chain merges docs 0..101 into comp 0
      val big = merged.filter(col("comp") === 0L).count()
      require(big == 102L, s"chain merge wrong: $big")
      merged.count()
    }

    // grouped prefix sum under dominant-group skew: 90% of rows in ONE
    // group — the pretraining-source regime strideSchedule/domainCap/
    // tokenBudgetMix route through the offset-lift for; a window
    // partitioned by the group alone would funnel 0.9·rows through a
    // single task no AQE rule can split
    timed("grouped prefix sum skew") {
      val df = spark.range(rows).select(
        when(col("id") % 10 < 9, lit("big"))
          .otherwise(concat(lit("g"), col("id") % 97)).as("src"),
        col("id").as("uid"),
        (col("id") % 1000).as("v"))
      val got = windows.groupedPrefixSum(df, Seq("src"), Seq(col("uid")),
        col("v"), cumName = "cum", rankName = "rk", totalName = "ng")
      val row = got.filter(col("src") === "big")
        .agg(max(col("rk")).cast("long"), max(col("ng")).cast("long"),
          count(lit(1))).head()
      require(row.getLong(0) == row.getLong(2) &&
        row.getLong(1) == row.getLong(2),
        s"dominant-group rank/total off: $row")
      row.getLong(2)
    }

    // SA delta probe: a 10k-doc batch merges into a corpus-scale dup
    // report by probing the at-rest gram index — the probe line below
    // must track the BATCH, not the corpus (index scanned once with
    // the batch grams broadcast, report patched by a broadcast join)
    timed("sa delta index+probe") {
      val nDocs = rows / 10 // 10 tokens per doc
      def mkDocs(ids: org.apache.spark.sql.DataFrame) = ids.select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0L), lit(9L)),
          j => concat(lit("t"),
            pmod(col("id") * 10 + j, lit(1000000L))))).as("text"))
      val docs = mkDocs(spark.range(nDocs).toDF())
      // token start values cover 0..1M−1 many times over, so every
      // 5-gram recurs (~rows/1M times): old report = 6 dup positions
      // per doc (starts 1..6), and no gram is unique — no flips
      val saLike = spark.range(rows).select(
        expr("id DIV 10").as("doc_id"), (col("id") % 10 + 1).as("pos"))
      val gramPos = graft.text.SuffixArray.gramBlocks(saLike, docs,
        "doc_id", "text", minLen = 5).stage()
      val gramStats = gramPos.groupBy("gram")
        .agg(count(lit(1)).as("n_occ")).stage()
      val oldReport = docs.select(col("doc_id"),
        lit(10L).as("n_positions"), lit(6L).as("n_dup_positions"))
        .stage()
      val delta = mkDocs(spark.range(nDocs, nDocs + 10000).toDF())
      val t0 = System.nanoTime()
      val merged = graft.text.SuffixArray.deltaDupPositions(gramPos,
        gramStats, oldReport, delta, "doc_id", "text", minLen = 5)
      // every delta gram exists in the old corpus → all 6 eligible
      // positions of every delta doc are duplicated
      val bad = merged.filter(col("doc_id") >= nDocs &&
        col("n_dup_positions") =!= 6L).count()
      val total = merged.count()
      println(f"[scale] sa delta probe only          rows=$total%12d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      require(bad == 0L, s"$bad delta docs mis-merged")
      require(total == nDocs + 10000L, s"merged report rows: $total")
      total
    }

    // indexed mutual kNN: BOTH frames are corpus halves (every vector
    // is a query), so the brute form is |A|·|B| — the banned plan.
    // With 256 hash cells and nProbe=2 the candidate volume is
    // ~2/256 of the cross product, nothing corpus-sized broadcasts,
    // and the run must finish in seconds where brute force would be
    // ~100k² dot products
    timed("mutual knn indexed halves") {
      val n = rows / 500
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (pmod(col("id") * (j + 3), lit(997)) / 997d)
            .cast("float")): _*)
          .as("embedding"),
        pmod(col("id") * 31, lit(256)).cast("int").as("cell"))
        .stage()
      graft.similarity.Similarity.mutualBestMatchIndexed(
        vecs.filter(col("vec_id") % 2 === 0),
        vecs.filter(col("vec_id") % 2 === 1),
        cellCol = "cell", nProbe = 2).count()
    }

    // probe frontier: the scored frame is built ONCE at the max
    // budget; every curve point reads it through pr <= b. Recall must
    // be non-decreasing in the budget (the tuning-curve invariant)
    timed("probe frontier 1M corpus") {
      val n = rows / 50
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (pmod(col("id") * (j + 3), lit(997)) / 997d)
            .cast("float")): _*)
          .as("embedding"))
        .stage()
      val cells = vecs.select(col("vec_id"),
        pmod(col("vec_id") * 31, lit(64)).cast("int").as("cell"))
      val fr = graft.similarity.Similarity.probeFrontier(
          vecs.filter(col("vec_id") % (n / 100) === 0), vecs, cells,
          k = 5, budgets = Seq(1, 2, 4, 8))
        .orderBy("n_probe")
        .select(col("recall_micro"), col("candidates_scanned"))
        .collect()
      require(fr.length == 4, s"budget rows: ${fr.length}")
      require(fr.sliding(2).forall(p =>
        p(0).getLong(0) <= p(1).getLong(0)), "recall not monotone")
      fr.map(_.getLong(1)).sum
    }

    // support-graph delta patch: a 10k-basket delta merges into a
    // corpus-scale at-rest pair rollup — the rollup is scanned once
    // and patched by broadcast joins of batch-bounded deltas; the
    // probe line must track the BATCH, never the rollup
    timed("co-support delta patch") {
      val oldCounts = spark.range(rows / 10).select(
        (col("id") % 1000000L).as("a"),
        (col("id") % 999983L + 1000000L).as("b"),
        (col("id") % 3 + 1).as("sup")).stage()
      // 10k delta baskets of 4 items each → ≤ 6 pairs per basket
      val deltaItems = spark.range(40000).select(
        expr("id DIV 4").as("k"),
        when(col("id") % 4 < 2, col("id") % 1000000L)
          .otherwise(col("id") % 999983L + 1000000L).as("p"))
      val deltaPairs = deltaItems
        .groupBy("k").agg(sort_array(collect_set(col("p"))).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps)),
               y -> struct(x AS a, y AS b))))""")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("d_sup"))
      val t0 = System.nanoTime()
      val oldMatches = oldCounts
        .join(broadcast(deltaPairs.select("a", "b")), Seq("a", "b"))
        .select("a", "b")
      val patched = oldCounts
        .join(broadcast(deltaPairs), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (col("sup") + coalesce(col("d_sup"), lit(0L))).as("sup"))
      val fresh = deltaPairs.join(oldMatches, Seq("a", "b"), "left_anti")
        .select(col("a"), col("b"), col("d_sup").as("sup"))
      val out = patched.unionByName(fresh).filter(col("sup") >= 2)
      val c = out.count()
      println(f"[scale] co-support patch only       rows=$c%12d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      c
    }

    // kNN GRAPH: the corpus is its own query set — the worst all-pairs
    // temptation. Through 256 cells at nProbe=2 the candidate volume
    // is ~2/256 of n², the top-k window partitions by query, and
    // nothing corpus-sized broadcasts — brute force here would be
    // ~100k² cosines
    timed("knn graph indexed 100k") {
      val n = rows / 500
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (pmod(col("id") * (j + 3), lit(997)) / 997d)
            .cast("float")): _*)
          .as("embedding"),
        pmod(col("id") * 31, lit(256)).cast("int").as("cell"))
        .stage()
      graft.similarity.Similarity.knnGraphIndexed(vecs, "cell",
        nProbe = 2, k = 3).count()
    }

    // streaming-ingest assignment path: arrivals score against the
    // FROZEN |cells|-row centroid table only — per-batch cost is
    // |batch|·|cells| scan-local distance math, zero corpus access
    // (the annMaintainStream per-batch kernel, here at 1M arrivals)
    timed("frozen-centroid assign 1M") {
      // the shared CODE-FROZEN calibration kernel (Calibration) —
      // Bench embeds the same one and emits it as calib_sec
      Calibration.frozenCentroid(spark, rows / 50)._2
    }

    // snapshot REBUILD at scale: the retrain phase is a health scan,
    // one centroid aggregate (posexplode + avg — linear shuffle), one
    // re-assignment against a |cells|-row broadcast, and metadata
    // renames — nothing corpus-sized collects, broadcasts, or
    // cross-joins, so retrain cost is ~two corpus passes at any size
    timed("ivf rebuild-and-swap 200k") {
      val n = rows / 250
      val store = scratch(spark, "graft_smoke_rebuild")
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (pmod(col("id") * (j + 3), lit(997)) / 997d)
            .cast("float")): _*).as("embedding"),
        pmod(col("id") * 31, lit(256)).cast("int").as("label"))
        .stage()
      graft.similarity.Similarity.seedIvfStore(vecs, "label", store)
      val (rebuilt, _, _) = graft.similarity.Similarity.rebuildIvfStore(
        vecs.select(col("vec_id"), col("embedding")), store,
        maxMeanD2 = 0.0)
      require(rebuilt, "forced gate must trip")
      spark.read.parquet(s"$store/assignment").count()
    }

    spark.stop()
  }
}
