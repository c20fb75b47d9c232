package graft.dedup

import org.apache.spark.sql.functions._

import graft.ArtifactStore.scratch
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (3L, "completely different content about spark engines"),
    (4L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG!")   // dup modulo case
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates, keeps min id") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "n_copies")
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === 3L) // 0, 1 and 4 normalize to the same text
    assert(got(2L) === 1L)
    assert(got(3L) === 1L)
  }

  test("minhash-lsh finds exact and near dups, verified by jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numPerms = 8, numBands = 4, threshold = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exact dups always collide in every band
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 4L)))
    // unrelated doc never passes the jaccard verification
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs share fingerprints, near dups are close") {
    val fps = Dedup.simhash(docs, "doc_id", "text", bits = 16)
      .as[(Long, Long)].collect().toMap
    assert(fps(0L) === fps(1L))
    assert(fps(0L) === fps(4L))
    val hamming = java.lang.Long.bitCount(fps(0L) ^ fps(2L))
    assert(hamming <= 6, s"near-dup hamming distance was $hamming")
  }

  test("native graft_simhash ≡ exploded reference formulation") {
    val native = Dedup.simhash(docs, "doc_id", "text", bits = 16)
      .as[(Long, Long)].collect().toMap
    val exploded = Dedup.simhashExploded(docs, "doc_id", "text", bits = 16)
      .as[(Long, Long)].collect().toMap
    assert(native === exploded)
  }

  test("ngram jaccard finds exact and near dups, never unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix-filtered ngram jaccard ≡ naive all-pairs join") {
    // corpus with overlap straddling the threshold: shared base phrases
    // with per-doc edits of varying size — the prefix-filter candidate
    // join must reproduce the quadratic ground truth exactly
    val vocab = Array("spark", "scala", "engine", "corpus", "token",
      "shuffle", "join", "plan", "codegen", "parquet", "column", "row")
    val corpus = (0 until 40).map { i =>
      val base = (0 until 8).map(j => vocab((i / 8 + j) % vocab.length))
      val edited = base.updated(i % 8, s"edit$i") ++
        (if (i % 2 == 0) Seq(vocab(i % vocab.length)) else Nil)
      (i.toLong, edited.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(corpus, k = 3, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val staged = corpus.select(col("doc_id"),
      graft.text.Text.shingles(graft.text.Text.tokens(col("text")), 3)
        .as("grams")).filter(size(col("grams")) > 0)
    val naive = staged.toDF("doc_a", "grams_a")
      .crossJoin(staged.toDF("doc_b", "grams_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
          size(array_union(col("grams_a"), col("grams_b"))).cast("double"))
      .filter(col("jaccard") >= 0.4)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6))
      .as[(Long, Long, Double)].collect().toSet
    assert(got === naive)
    assert(naive.nonEmpty, "corpus must produce near-dup pairs")
    // the size-gated verify join must produce the identical pair set on
    // its shuffle path (limit 0 forces it) — the lake-scale shape where
    // the doc→gram-ids map no longer broadcasts
    val shuffled = Dedup.ngramJaccardPairs(corpus, k = 3, threshold = 0.4,
      broadcastBytesLimit = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(shuffled === naive)
  }

  test("incremental near-dups ≡ full-corpus pairs restricted to new×corpus") {
    val newDocs = docs.filter(col("doc_id") % 2 === 0) // 0, 2, 4
    val corpus = docs.filter(col("doc_id") % 2 =!= 0)  // 1, 3
    val inc = Dedup.incrementalNearDups(newDocs, corpus, "doc_id", "text",
      numPerms = 8, numBands = 4, threshold = 0.7)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numPerms = 8, numBands = 4, threshold = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cross = full.collect {
      case (a, b) if (a % 2 == 0) != (b % 2 == 0) =>
        if (a % 2 == 0) (a, b) else (b, a)
    }
    assert(inc === cross)
    assert(inc.contains((0L, 1L)), "exact dup straddling the split")
  }

  test("file-backed LSH index probe ≡ the in-lineage incremental path") {
    val newDocs = docs.filter(col("doc_id") % 2 === 0)
    val corpus = docs.filter(col("doc_id") % 2 =!= 0)
    val dir = scratch(spark, "lsh_index_spec")
    val sets = Dedup.shingleSets(corpus, "doc_id", "text", 3)
    sets.write.mode("overwrite").parquet(s"$dir/sets")
    Dedup.bandedBuckets(sets, numPerms = 8, numBands = 4)
      .write.mode("overwrite").parquet(s"$dir/buckets")
    val atRest = Dedup.incrementalNearDupsIndexed(newDocs,
        spark.read.parquet(s"$dir/sets"),
        spark.read.parquet(s"$dir/buckets"),
        "doc_id", "text", numPerms = 8, numBands = 4, threshold = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    val inline = Dedup.incrementalNearDups(newDocs, corpus, "doc_id",
        "text", numPerms = 8, numBands = 4, threshold = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(atRest === inline)
    assert(atRest.nonEmpty, "fixture must produce cross pairs")
  }

  test("incrementalComponents ≡ from-scratch CC after new edges merge") {
    // old graph: {1,2,3} and {5,6} and {9,10}; new edges chain-merge
    // {1..3}+{5,6} via 4, add fresh singleton pair (20,21), touch
    // nothing in {9,10}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 10L))
      .toDF("a", "b")
    val newPairs = Seq((3L, 4L), (4L, 5L), (20L, 21L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(oldPairs, "a", "b")
    val inc = Dedup.incrementalComponents(labels, "doc_id", "comp",
        newPairs, "a", "b")
      .select("doc_id", "comp", "is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    val scratch = Dedup.connectedComponents(
        oldPairs.unionByName(newPairs), "a", "b")
      .select("doc_id", "comp", "is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(inc === scratch)
    assert(inc.contains((6L, 1L, false)), "components must have merged")
    assert(inc.contains((9L, 9L, true)), "untouched cluster intact")
  }

  test("banded simhash pairs ≡ blocked join when one block holds everything") {
    // the corpus shape that blows up heuristic blocking: every doc the
    // same lang and length bucket — ONE block, so the blocked join is a
    // full quadratic scan and finds every pair; the banded generator
    // must find exactly the same set from (maxHamming+1)× fan-out
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val words = base.split(" ")
    val corpus = (0 until 60).map { i =>
      // rotate + tweak one word so fingerprints cluster but differ
      val toks = words.drop(i % 4) ++ words.take(i % 4)
      val txt = (if (i % 3 == 0) toks :+ s"tail${i % 5}" else toks)
        .mkString(" ")
      (i.toLong, txt, "en", 64L)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val banded = Dedup.simhashPairs(corpus, "doc_id", "text",
      bits = 16, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val blocked = Dedup.simhashPairsBlocked(corpus, "doc_id", "text",
      bits = 16, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded === blocked)
    assert(banded.nonEmpty, "engineered corpus must produce near-dups")
  }

  test("banded simhash pairs find near-dups the length-block join misses") {
    // same text (hamming 0) but metadata puts them in different length
    // buckets: lossless banding finds the pair, heuristic blocking can't
    val corpus = Seq(
      (1L, "shared sentence of tokens", "en", 10L),
      (2L, "shared sentence of tokens", "en", 900L),
      (3L, "entirely unrelated words elsewhere", "en", 10L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val banded = Dedup.simhashPairs(corpus, "doc_id", "text", 16, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val blocked = Dedup.simhashPairsBlocked(corpus, "doc_id", "text", 16, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded.contains((1L, 2L)))
    assert(!blocked.contains((1L, 2L)))
  }

  test("pigeonhole banding is exact at the hamming boundary") {
    // constructed fingerprints: distance exactly maxHamming is found,
    // maxHamming+1 is not, regardless of which bits differ (including
    // all differing bits inside one band)
    val fps = Seq(
      (0L, 0x0000L),          // base
      (1L, 0x0007L),          // ham 3 — all three bits in the last band
      (2L, 0x8421L),          // ham 4 vs base — one bit in every band
      (3L, 0x0007L),          // ham 0 vs doc 1
      (4L, 0x8001L)           // ham 2 vs base, straddling first/last band
    ).toDF("id", "fp")
    val got = Dedup.bandedHammingPairs(fps, "id", "fp", bits = 16,
      maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((0L, 1L, 3)))
    assert(got.contains((1L, 3L, 0)))
    assert(got.contains((0L, 4L, 2)))
    assert(!got.exists(p => Set(p._1, p._2) == Set(0L, 2L)),
      "distance 4 must not pass at maxHamming 3")
    // every emitted pair is within the bound exactly once
    assert(got.size === got.map(p => (p._1, p._2)).size)
  }

  test("banded pairs ≡ brute-force hamming pairs on random fingerprints") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // losslessness as a property: for random fingerprint sets (clustered
    // so near pairs actually exist), the band join finds EXACTLY the
    // naive all-pairs result — any width, any maxHamming
    val cases = Seq((16, 1), (16, 3), (64, 3), (64, 7))
    cases.zipWithIndex.foreach { case ((bits, maxHam), ci) =>
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      val genFps: Gen[List[Long]] = for {
        n <- Gen.choose(10, 60)
        seeds <- Gen.listOfN(n, Gen.long)
        flips <- Gen.listOfN(n, Gen.choose(0, bits - 1))
      } yield seeds.zip(flips).zipWithIndex.map { case ((s, f), i) =>
        // half the ids mutate a shared base so near pairs exist
        val base = if (i % 2 == 0) s else seeds(i - 1) ^ (1L << f)
        base & mask
      }
      (0 until 4).foreach { it =>
        genFps(Gen.Parameters.default, Seed((ci * 10 + it).toLong))
          .foreach { fps =>
            val df = fps.zipWithIndex
              .map { case (fp, i) => (i.toLong, fp) }.toDF("id", "fp")
            val got = Dedup.bandedHammingPairs(df, "id", "fp", bits, maxHam)
              .as[(Long, Long, Int)].collect().toSet
            val want = (for {
              i <- fps.indices; j <- (i + 1) until fps.length
              h = java.lang.Long.bitCount(fps(i) ^ fps(j))
              if h <= maxHam
            } yield (i.toLong, j.toLong, h)).toSet
            assert(got === want, s"bits=$bits maxHam=$maxHam seed=$it")
          }
      }
    }
  }

  test("64-bit simhash: dup-invariant, more collision-resistant than 16") {
    val corpus = (0 until 200).map { i =>
      (i.toLong, s"document number $i with shared boilerplate words " +
        s"plus unique token u$i and filler f${i % 7}")
    }.toDF("doc_id", "text")
      .union(Seq((500L, "document number 3 with shared boilerplate words " +
        "plus unique token u3 and filler f3")).toDF("doc_id", "text"))
    val fp64 = Dedup.simhash(corpus, "doc_id", "text", bits = 64)
      .as[(Long, Long)].collect().toMap
    val fp16 = Dedup.simhash(corpus, "doc_id", "text", bits = 16)
      .as[(Long, Long)].collect().toMap
    // identical docs agree at any width
    assert(fp64(500L) === fp64(3L))
    // the 16-bit fp is exactly the top 16 majority votes of the 64-bit
    // one — widening never merges fingerprints 16 bits kept apart
    assert(fp16.forall { case (id, f16) => (fp64(id) >>> 48) === f16 })
    assert(fp64.values.toSet.size >= fp16.values.toSet.size)
    // the low 48 bits are real majority votes (not a zero-padded 16-bit
    // value): some fingerprint has a mixed low-bit pattern
    assert(fp64.values.exists(fp => (fp & 0xffffffffffffL) != 0L &&
      (fp & 0xffffffffffffL) != 0xffffffffffffL))
  }

  test("connected components / keepCanonical survive an empty pair table") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, "doc_a", "doc_b").count() === 0L)
    val kept = Dedup.keepCanonical(docs, "doc_id", empty, "doc_a", "doc_b")
    assert(kept.count() === docs.count())
  }

  test("native expressions reject out-of-range literals at analysis time") {
    val df = Seq((1L, Seq("a", "b", "c"))).toDF("id", "toks")
    def fails(expr: String): Unit = {
      val e = intercept[Exception] {
        df.selectExpr(expr).collect()
      }
      assert(e.getMessage.toLowerCase.contains("must be"),
        s"$expr: ${e.getMessage.take(200)}")
    }
    fails("graft_shingles(toks, 0)")
    fails("graft_minhash(toks, 0)")
    fails("graft_simhash(toks, 0)")
    fails("graft_simhash(toks, 65)")
    // in-range still fine
    assert(df.selectExpr("graft_simhash(toks, 64)").head().getLong(0) != 0L)
  }

  test("connected components match union-find on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 25)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (a, b))
    } yield edges

    def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }

    (0 until 8).foreach { i =>
      genEdges.apply(Gen.Parameters.default, Seed(i.toLong)).foreach {
        edges =>
          val got = Dedup
            .connectedComponents(edges.toDF("doc_a", "doc_b"),
              "doc_a", "doc_b")
            .as[(Long, Long, Boolean)].collect()
            .map(r => r._1 -> r._2).toMap
          val want = unionFind(edges)
          assert(got === want, s"seed $i, edges $edges")
      }
    }
  }

  test("connected components propagate labels across transitive chains") {
    // 10-11-12-13-14 is a 5-node path: A~B pairwise hits never include
    // 10~14 directly, so the min label must travel the whole chain
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (2L, 1L), (20L, 21L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert((10L to 14L).forall(comps(_)._1 === 10L))
    assert(comps(1L)._1 === 1L && comps(2L)._1 === 1L)
    assert(comps(20L)._1 === 20L && comps(21L)._1 === 20L)
    // exactly one canonical doc per component
    assert(comps.values.count(_._2) === 3)
    assert(comps(10L)._2 && comps(1L)._2 && comps(20L)._2)
  }

  test("bloom decontamination never misses a truly contaminated doc") {
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(500)}").mkString(" ")
    val bench = (1000L to 1004L).map(i => (i, words(30)))
    // half the train docs embed a benchmark 5-gram verbatim
    val train = (0L until 40L).map { i =>
      val base = words(25)
      if (i % 2 == 0) {
        val src = bench((i % 5).toInt)._2.split(" ").slice(3, 8)
        (i, base + " " + src.mkString(" "))
      } else (i, base)
    }
    val trainDf = train.toDF("doc_id", "text")
    val benchDf = bench.toDF("doc_id", "text")
    val exact = Dedup.contamination(trainDf, benchDf, "doc_id", "text",
      k = 5).as[(Long, Long)].collect().map(_._1).toSet
    val flagged = Dedup.bloomContaminated(trainDf, benchDf, "doc_id",
      "text", k = 5).as[(Long, Boolean)].collect()
      .filter(_._2).map(_._1).toSet
    assert((0L until 40L by 2).toSet.subsetOf(exact), "plant sanity")
    assert(exact.subsetOf(flagged), // the bloom guarantee
      s"false negatives: ${exact -- flagged}")
    // generously sized filter ⇒ no false positives at this scale
    assert(flagged === exact)
  }

  test("bloom index round-trips through parquet (build ≡ at-rest probe)") {
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(300)}").mkString(" ")
    val bench = (100L to 103L).map(i => (i, words(30)))
    val train = (0L until 20L).map { i =>
      val base = words(20)
      if (i % 3 == 0)
        (i, base + " " + bench((i % 4).toInt)._2.split(" ")
          .slice(2, 7).mkString(" "))
      else (i, base)
    }
    val trainDf = train.toDF("doc_id", "text")
    val benchDf = bench.toDF("doc_id", "text")
    val path = scratch(spark, "graft_bloom_rt") + "/bf"
    Dedup.bloomBuild(benchDf, "doc_id", "text", k = 5)
      .write.mode("overwrite").parquet(path)
    val atRest = Dedup.bloomProbe(spark.read.parquet(path), trainDf,
      "doc_id", "text", k = 5).as[(Long, Boolean)].collect().toSet
    val direct = Dedup.bloomContaminated(trainDf, benchDf, "doc_id",
      "text", k = 5).as[(Long, Boolean)].collect().toSet
    assert(atRest === direct)
    assert(atRest.exists(_._2), "fixture must contain a planted hit")
    // shingle-width guard: probing with the wrong k refuses loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.bloomProbe(spark.read.parquet(path), trainDf, "doc_id",
        "text", k = 4)
    }
    assert(ex.getMessage.contains("shingle_k"))
  }

  test("bloom decontamination with an empty benchmark flags nothing") {
    val trainDf = Seq((1L, "some ordinary text with enough words here"))
      .toDF("doc_id", "text")
    val benchDf = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val flagged = Dedup.bloomContaminated(trainDf, benchDf, "doc_id",
      "text", k = 5).as[(Long, Boolean)].collect()
    assert(flagged.forall(!_._2))
  }

  test("bloom contamination reports EVERY train doc, even sub-k ones") {
    val trainDf = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "too short")   // < k tokens: no shingles, still a row
    ).toDF("doc_id", "text")
    val benchDf = Seq((9L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = Dedup.bloomContaminated(trainDf, benchDf, "doc_id",
      "text", k = 5).as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false))
  }

  test("bandedBuckets rejects a non-divisible (perms, bands) config") {
    val sets = Seq((1L, Seq("a b c"))).toDF("doc_id", "shset")
    val e = intercept[IllegalArgumentException] {
      Dedup.bandedBuckets(sets, numPerms = 10, numBands = 4)
    }
    assert(e.getMessage.contains("must divide"))
    intercept[IllegalArgumentException] {
      Dedup.bandedBuckets(sets, numPerms = 4, numBands = 5)
    }
  }

  test("verifyJaccard emits nothing for a shingle-less pair") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    // both docs have < 3 tokens → empty shingle sets → 0/0 would be
    // NaN (or an ANSI divide error); the guard must emit no row
    val got = Dedup.verifyJaccard(pairs, docs, "doc_id", "text", 0.5)
    assert(got.count() === 0)
  }

  test("goldenRecords: survivorship merge, singletons pass through") {
    // cluster {1,2,3} (chain pairs), singleton 9. Completeness: 3 wins
    // the representative pick; 1 is the entity id (cluster min)
    val docs = Seq((1L, 10), (2L, 30), (3L, 30), (9L, 5))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.goldenRecords(docs, "doc_id", pairs,
        "doc_a", "doc_b", "n_chars")
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    // rep tie at n_chars=30 between docs 2 and 3 → lower id (2) wins
    assert(got === Set(
      (1L, 3L, 30, 70L, 2L),
      (9L, 1L, 5, 5L, 9L)))
  }

  test("goldenRecords with an empty pair table is one entity per doc") {
    val docs = Seq((1L, 10), (2L, 20)).toDF("doc_id", "n_chars")
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = Dedup.goldenRecords(docs, "doc_id", empty,
        "doc_a", "doc_b", "n_chars")
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 10, 10L, 1L), (2L, 1L, 20, 20L, 2L)))
  }

  test("leakageSafeSplit keeps every near-dup cluster in one split") {
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
    }
    def splitOf(cluster: Long): String = {
      val b = bucket(cluster)
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val docs = (1L to 40L).map((_, 10)).toDF("doc_id", "n_chars")
    // clusters {1..4} and {20, 21}; the rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.leakageSafeSplit(docs, "doc_id", pairs,
        "doc_a", "doc_b", trainPct = 80, valPct = 10)
      .select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect()
    val byDoc = got.map(r => r._1 -> (r._2, r._3)).toMap
    // cluster cohesion: min-id cluster labels, one split per cluster
    Seq(1L, 2L, 3L, 4L).foreach(d =>
      assert(byDoc(d) === ((1L, splitOf(1L))), s"doc $d"))
    Seq(20L, 21L).foreach(d =>
      assert(byDoc(d) === ((20L, splitOf(20L))), s"doc $d"))
    // singletons hash on their own id
    assert(byDoc(9L) === ((9L, splitOf(9L))))
    assert(got.length === 40)
    // the 100-bucket hash actually spreads: more than one split used
    assert(got.map(_._3).distinct.length >= 2)
  }

  test("sortedNeighborhoodPairs emits exactly the window panes") {
    // sort order by key then id: 30(c) 10(a) 20(a-tie…) — keys chosen
    // so ties exercise the id tie-break: ids 10,20 share key "a"
    val docs = Seq((10L, "a"), (20L, "a"), (30L, "0"), (40L, "b"))
      .toDF("id", "k")
    // sorted: 30("0"), 10("a"), 20("a"), 40("b")
    val got = Dedup.sortedNeighborhoodPairs(docs, "id", "k", window = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === Set((30L, 10L), (30L, 20L), (10L, 20L),
      (10L, 40L), (20L, 40L)))
  }

  test("sortedNeighborhoodPairs matches a driver replica") {
    val rnd = new scala.util.Random(31)
    val rows = (1L to 60L).map(i => (i, s"k${rnd.nextInt(9)}"))
    val got = Dedup.sortedNeighborhoodPairs(rows.toDF("id", "k"),
        "id", "k", window = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sorted = rows.sortBy(r => (r._2, r._1)).map(_._1)
    val want = sorted.indices.flatMap(i =>
      (i + 1 until math.min(i + 4, sorted.length)).map(j =>
        (sorted(i), sorted(j)))).toSet
    assert(got === want)
    assert(got.size === 57 * 3 + 2 + 1)
  }
}
