package graft.similarity

import org.apache.spark.sql.functions._

import graft.ArtifactStore.scratch
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),   // near 0
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.0f, 1.0f), 2),
    (4L, Array(1.0f, 0.05f, 0.0f), 0)   // nearer 0 than 1 is
  ).toDF("vec_id", "embedding", "label")

  test("cosine expression matches hand computation") {
    val c = vecs.filter(col("vec_id") === 0L)
      .crossJoin(vecs.filter(col("vec_id") === 2L)
        .select(col("embedding").as("e2")))
      .select(Similarity.cosine(col("embedding"), col("e2")).as("c"))
      .as[Double].head()
    assert(math.abs(c) < 1e-12) // orthogonal
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break") {
    val got = Similarity
      .bruteForceTopK(vecs.filter(col("vec_id") === 0L), vecs, k = 2)
      .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSet
    assert(got === Set((4L, 1), (1L, 2)))
  }

  test("ivfTopK only searches the query's cell") {
    val got = Similarity
      .ivfTopK(vecs.filter(col("vec_id") === 0L), vecs, "label", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got === Set(1L, 4L)) // label-0 cell only
  }

  test("ivfFilteredTopK widens probes with filter selectivity") {
    // label 0 holds 3 of 5 vectors; filtering to it (sel 0.6) with
    // base 1 gives nprobe = ceil(5/3) = 2; a 1-in-5 filter widens to
    // min(|cells|, 5) = all 3 cells and must equal the filtered brute
    // force exactly
    val cells = vecs.select(col("vec_id"), col("label").as("cell"))
    val q = vecs.filter(col("vec_id") === 2L)
    val tight = Similarity.ivfFilteredTopK(q, vecs, cells, k = 2,
      baseNProbe = 1, pred = col("vec_id") === 3L)
    assert(tight.select("n_probe").distinct().as[Long].head() === 3L)
    val exact = Similarity
      .bruteForceTopK(q, vecs.filter(col("vec_id") === 3L), k = 2)
      .select("query_id", "neighbor_id", "rnk").as[(Long, Long, Int)]
      .collect().toSet
    assert(tight.select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet === exact)
    val broad = Similarity.ivfFilteredTopK(q, vecs, cells, k = 2,
      baseNProbe = 1, pred = col("label") === 0)
    assert(broad.select("n_probe").distinct().as[Long].head() === 2L)
  }

  test("kmeansCells groups the axis clusters and is deterministic") {
    val cells = Similarity.kmeansCells(vecs, k = 3, iters = 3)
      .as[(Long, Int)].collect().toMap
    // 0, 1, 4 point along x — same cell; 2 (y) and 3 (z) each their own
    assert(cells(0L) === cells(1L) && cells(1L) === cells(4L))
    assert(Set(cells(0L), cells(2L), cells(3L)).size === 3)
    val again = Similarity.kmeansCells(vecs, k = 3, iters = 3)
      .as[(Long, Int)].collect().toMap
    assert(again === cells)
  }

  test("ivfMultiProbe: more probes → brute-force result at full fan-out") {
    // 3 well-separated clusters so kmeans cells are stable
    val base = Seq(
      Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    val corpus = (0L until 30L).map { i =>
      val c = base((i % 3).toInt)
      (i, c.zipWithIndex.map { case (v, j) =>
        v + (i * 7 % 5) * 0.01f * (j + 1) })
    }.toDF("vec_id", "embedding")
    val cells = Similarity.kmeansCells(corpus, k = 3, iters = 3)
    val qs = corpus.filter(col("vec_id") < 3)

    val brute = Similarity.bruteForceTopK(qs, corpus, k = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfMultiProbe(qs, corpus, cells, k = 4,
      nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === brute, "nProbe = |cells| must equal brute force")

    val one = Similarity.ivfMultiProbe(qs, corpus, cells, k = 4,
      nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall1 = (one & brute).size.toDouble / brute.size
    val recall3 = (full & brute).size.toDouble / brute.size
    assert(recall3 >= recall1, "recall must be monotone in probes")
    assert(one.nonEmpty && one.subsetOf(full))
  }

  test("multi-table LSH recovers ≥95% of brute-force cos≥0.95 pairs") {
    // synthetic near-dup corpus: 150 random 64-d base vectors, each with
    // a small-perturbation duplicate (cos ≈ 0.96-0.99); random 64-d
    // pairs sit near cos 0 so the planted pairs ARE the ground truth
    val rnd = new scala.util.Random(42)
    val base = (0 until 150).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val dups = base.map { case (id, v) =>
      (id + 1000L, v.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    }
    val all = base ++ dups
    val df = all.toDF("vec_id", "embedding")

    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { j =>
        d += a(j).toDouble * b(j).toDouble
        na += a(j).toDouble * a(j).toDouble
        nb += b(j).toDouble * b(j).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      i <- all.indices; j <- (i + 1) until all.length
      if cosD(all(i)._2, all(j)._2) >= 0.95
    } yield {
      val (x, y) = (all(i)._1, all(j)._1)
      (math.min(x, y), math.max(x, y))
    }).toSet
    assert(truth.size >= 100, s"need a real truth set, got ${truth.size}")

    val got = Similarity.cosineNearDupPairs(df, dim = 64, numTables = 4,
      planesPerTable = 6, threshold = 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // verified candidates are always true pairs…
    assert(got.subsetOf(truth))
    // …and the OR-construction keeps ≥95% of them
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.95, s"multi-table recall $recall")

    // a single table provably cannot: P(agree | cos .95) ≈ .9^6 ≈ .53
    val single = Similarity.cosineNearDupPairs(df, dim = 64, numTables = 1,
      planesPerTable = 6, threshold = 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(single.size < got.size,
      s"single-table ${single.size} vs multi ${got.size}")
  }

  test("native graft_lsh_buckets ≡ driver-literal hyperplaneBucket") {
    val rnd = new scala.util.Random(7)
    val df = (0 until 50).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val native = df.select(col("vec_id"),
      array_join(call_function("graft_lsh_buckets", col("embedding"),
        lit(4), lit(6)), "|").as("b"))
      .as[(Long, String)].collect().toMap
    val literal = df.select(col("vec_id"),
      concat_ws("|", (0 until 4).map(t =>
        Similarity.hyperplaneBucket(col("embedding"), 64, 6,
          planeOffset = t * 6)): _*).as("b"))
      .as[(Long, String)].collect().toMap
    assert(native === literal)
    assert(native.values.forall(_.length === 4 * 6 + 3))
  }

  test("hyperplane LSH: identical vectors share buckets") {
    val b = vecs
      .select(Similarity.hyperplaneBucket(col("embedding"), 3, 8).as("b"))
      .as[String].collect()
    assert(b(0).length === 8)
    assert(b.toSet.size > 1, "distinct directions should split buckets")
  }

  // vectors assembled from ≤ksub distinct subvector patterns per
  // subspace: Lloyd recovers the patterns exactly, encoding is lossless,
  // and ADC ranking must equal brute force
  test("PQ on pattern-built vectors: exact codes, brute-force ranking") {
    val a0 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val a1 = Array(0.0f, 1.0f, 1.0f, 0.0f)
    val b0 = Array(0.5f, 0.5f, 0.0f, 1.0f)
    val b1 = Array(0.0f, 0.0f, 2.0f, 1.0f)
    // ids 0,1 seed the codebook with both patterns per subspace
    val rows = Seq(
      (0L, a0 ++ b0), (1L, a1 ++ b1), (2L, a0 ++ b1), (3L, a1 ++ b0),
      (4L, a0 ++ b0), (5L, a1 ++ b1), (6L, a0 ++ b1), (7L, a1 ++ b0))
    val df = rows.toDF("vec_id", "embedding")

    val svs = Similarity.pqSubvectors(df, dim = 8, m = 2)
    val cb = Similarity.pqCodebook(svs, subLen = 4, ksub = 2, rounds = 2)
    assert(cb.count() === 4) // 2 subspaces × 2 codes
    val codes = Similarity.pqAssign(svs, cb)

    // same-pattern vectors share codes in every subspace
    val byVec = codes.select("vec_id", "sub", "code")
      .as[(Long, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byVec(0L) === byVec(4L))
    assert(byVec(1L) === byVec(5L))
    assert(byVec(0L) !== byVec(1L))

    // lossless encoding ⇒ ADC ranking == exact brute-force ranking
    val queries = df.filter(col("vec_id") < 2)
    val pq = Similarity.pqTopK(queries, codes, cb, subLen = 4, k = 3)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(queries, df, k = 3)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(pq === bf)
  }

  test("ADC score ≡ cosine against the reconstruction, within 1e-4") {
    val rnd = new scala.util.Random(11)
    val df = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val svs = Similarity.pqSubvectors(df, dim = 16, m = 4)
    val cb = Similarity.pqCodebook(svs, subLen = 4, ksub = 4, rounds = 3)
    val codes = Similarity.pqAssign(svs, cb)

    // reconstruct x̂ per vector from its codes, driver-side
    val cents = cb.select("sub", "code", "centroid")
      .as[(Int, Int, Seq[Double])].collect()
      .map { case (s, c, v) => (s, c) -> v.map(_.toFloat.toDouble) }.toMap
    val codeMap = codes.as[(Long, Int, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).flatMap(r => cents((r._2, r._3)))).toMap
    val embMap = df.as[(Long, Array[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble) }.toMap

    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val adc = Similarity
      .pqTopK(df.filter(col("vec_id") < 5), codes, cb, subLen = 4, k = 10)
      .select("query_id", "neighbor_id", "pq_score")
      .as[(Long, Long, Double)].collect()
    adc.foreach { case (q, n, s) =>
      val expected = cos(embMap(q), codeMap(n))
      assert(math.abs(s - expected) < 1e-4,
        s"query $q neighbor $n: adc $s vs reconstruction cos $expected")
    }
  }

  test("ivfPqTopK = pqTopK restricted to the query's cell") {
    val df = spark.range(64).select(col("id").as("vec_id"),
      array((0 until 16).map(j =>
        (sin((col("id") + 1) * (j + 1)) * 100).cast("float")): _*)
        .as("embedding"),
      (col("id") % 4).cast("int").as("cell"))
    val svs = Similarity.pqSubvectors(df, dim = 16, m = 4)
    val cb = Similarity.pqCodebook(svs, subLen = 4, ksub = 4, rounds = 2)
    val codes = Similarity.pqAssign(svs, cb)
    val queries = df.filter(col("vec_id") < 3)
    val ivf = Similarity.ivfPqTopK(queries,
      df.select("vec_id", "cell"), codes, cb, subLen = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val cellOf = df.select("vec_id", "cell").as[(Long, Int)]
      .collect().toMap
    // every neighbor shares its query's cell
    ivf.foreach { case (q, n, _) => assert(cellOf(n) === cellOf(q)) }
    // and the ADC scores agree with the unrestricted scorer
    val full = Similarity.pqTopK(queries, codes, cb, subLen = 4, k = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    ivf.foreach { case (q, n, s) => assert(full((q, n)) === s) }
  }

  test("ivfPqMultiProbe: full fan-out ≡ pqTopK; recall grows with nProbe") {
    val df = spark.range(64).select(col("id").as("vec_id"),
      array((0 until 16).map(j =>
        (sin((col("id") + 1) * (j + 1)) * 100).cast("float")): _*)
        .as("embedding"),
      (col("id") % 4).cast("int").as("cell"))
    val svs = Similarity.pqSubvectors(df, dim = 16, m = 4)
    val cb = Similarity.pqCodebook(svs, subLen = 4, ksub = 4, rounds = 2)
    val codes = Similarity.pqAssign(svs, cb)
    val queries = df.filter(col("vec_id") < 3)
    val cells = df.select("vec_id", "cell")
    def hits(nProbe: Int): Map[(Long, Long), Double] =
      Similarity.ivfPqMultiProbe(queries, df, cells, codes, cb,
        subLen = 4, k = 5, nProbe = nProbe)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // probing every cell = unrestricted ADC search
    val full = Similarity.pqTopK(queries, codes, cb, subLen = 4, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(hits(4) === full)
    // recall of the full top-5 is monotone in nProbe
    val r = (1 to 4).map(p => hits(p).keySet.count(full.contains))
    assert(r.zip(r.tail).forall { case (a, b) => a <= b })
    assert(r.last === full.size)
  }

  test("semDedup drops every higher-id near-dup, keeps chain minima") {
    // cell 0: vectors 1,2 parallel (cos=1), 3 orthogonal; cell 1: 4,5
    // parallel; vector 6 parallel to 1 but in another cell → kept (cells
    // bound the comparison scope by design)
    val rows = Seq(
      (1L, 0, Array(1f, 0f, 0f, 0f)),
      (2L, 0, Array(2f, 0f, 0f, 0f)),
      (3L, 0, Array(0f, 1f, 0f, 0f)),
      (4L, 1, Array(0f, 0f, 3f, 0f)),
      (5L, 1, Array(0f, 0f, 1f, 0f)),
      (6L, 2, Array(1f, 0f, 0f, 0f))
    ).toDF("vec_id", "cell", "embedding")
    val kept = Similarity.semDedup(rows, "cell", threshold = 0.9)
      .as[(Long, Int)].collect().toMap
    assert(kept.keySet === Set(1L, 3L, 4L, 6L))
    // kept set is pairwise below threshold within every cell
    assert(kept(1L) === 0 && kept(3L) === 0 && kept(4L) === 1)
  }

  test("semDedup hot-cell salting is lossless on a one-mega-cell input") {
    // adversarial clustering: EVERY vector lands in one cell, so the
    // plain within-cell self-join would be a single quadratic block.
    // With maxBlock=16 the 240 rows split into s=15 salted sub-cells;
    // the pair-block construction must still find exactly the pairs the
    // unsalted path finds.
    val n = 240
    val rows = (0 until n).map { i =>
      // 40 direction families of 6 near-identical members each → dense
      // duplicate chains that cross salt boundaries
      val fam = i % 40
      val a = math.cos(fam * 0.157).toFloat
      val b = math.sin(fam * 0.157).toFloat
      val eps = 1e-4f * (i / 40)
      (i.toLong, 0, Array(a + eps, b, 0.1f, 0.2f))
    }.toDF("vec_id", "cell", "embedding")
    val salted = Similarity.semDedup(rows, "cell", threshold = 0.999,
        maxBlock = 16)
      .as[(Long, Int)].collect().map(_._1).toSet
    val plain = Similarity.semDedup(rows, "cell", threshold = 0.999,
        maxBlock = 1000000)
      .as[(Long, Int)].collect().map(_._1).toSet
    assert(salted === plain)
    // chain minima survive: vec 0..39 are each the lowest id of their
    // direction family
    assert((0L until 40L).toSet.subsetOf(salted))
  }

  test("zero-norm vectors never rank, pair, or dedup (NaN guards)") {
    // cosine with a zero vector is 0/0 = NaN, which Spark sorts ABOVE
    // every real score AND treats as >= any threshold — each operator
    // must exclude it, not let it top every ranking / delete its cell
    val withZero = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f), 0),  // the hazard
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")

    val bf = Similarity.bruteForceTopK(
      withZero.filter(col("vec_id") === 1L), withZero, k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!bf.contains(0L), s"zero vector ranked: $bf")

    val sem = Similarity.semDedup(withZero, "label", threshold = 0.9,
      maxBlock = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(sem.contains(1L) || sem.contains(2L),
      "zero vector must not 'duplicate' its whole cell")
    assert(sem.contains(0L), "a zero vector matches nothing, so stays")
    assert(sem.contains(3L))

    val pairs = Similarity.cosineNearDupPairs(withZero, dim = 3,
      numTables = 4, planesPerTable = 4, threshold = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 0L || p._2 == 0L),
      s"zero vector paired: $pairs")
  }

  test("mipsTopK ranks by raw inner product, not cosine") {
    // 1 has HIGHER cosine to the query than 2 (aligned) but 2's
    // magnitude wins the inner product — MIPS and cosine must disagree
    val q = Seq((100L, Array(1.0f, 0.0f), 9)).toDF(
      "vec_id", "embedding", "label")
    val corp = Seq(
      (1L, Array(1.0f, 0.0f), 0),      // cos 1.0, ip 1.0
      (2L, Array(5.0f, 3.0f), 0),      // cos ~0.86, ip 5.0
      (3L, Array(0.0f, 2.0f), 1))      // ip 0
      .toDF("vec_id", "embedding", "label")
    val mips = Similarity.mipsTopK(q, corp, k = 3)
      .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSet
    assert(mips === Set((2L, 1), (1L, 2), (3L, 3)))
    val cos = Similarity.bruteForceTopK(q, corp, k = 3)
      .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSet
    assert(cos === Set((1L, 1), (2L, 2), (3L, 3)))
  }

  test("norm augmentation: cosine over augmented vectors ≡ exact MIPS") {
    val rnd = new scala.util.Random(17)
    val corp = (0L until 60L).map(i =>
      (i, Array.fill(8)((rnd.nextDouble() * 4 - 2).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val qs = corp.filter(col("vec_id") < 6)
    val exact = Similarity.mipsTopK(qs, corp, k = 5)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    val (qAug, cAug) = Similarity.mipsAugment(qs, corp)
    // every augmented corpus vector must have norm = corpus max norm
    val norms = cAug
      .select(Similarity.norm(col("embedding")).as("n"))
      .as[Double].collect()
    assert(norms.max - norms.min < 1e-3,
      s"augmented norms not constant: ${norms.min}..${norms.max}")
    val viaCos = Similarity.bruteForceTopK(qAug, cAug, k = 5)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaCos === exact)
  }

  test("mutualBestMatch keeps only reciprocal top-1 pairs") {
    // a1↔b1 mutual; a2's best is b1 (not reciprocated — b1 prefers a1);
    // b2's best is a1 (not reciprocated) → exactly one pair survives
    val a = Seq(
      (2L, Array(1.0f, 0.0f)),          // a1: along x
      (4L, Array(0.9f, 0.45f)))         // a2: leans x, closer to b1
      .toDF("vec_id", "embedding")
    val b = Seq(
      (1L, Array(0.95f, 0.1f)),         // b1: nearest a1
      (3L, Array(0.5f, 0.9f)))          // b2: diagonal-ish
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualBestMatch(a, b)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 1L)))
  }

  test("mutualBestMatch equals the two-direction driver replica") {
    val rnd = new scala.util.Random(23)
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(6)((rnd.nextDouble() * 2 - 1).toFloat)))
    val aRows = mk(0 until 30)
    val bRows = mk(100 until 140)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dx = x.map(_.toDouble); val dy = y.map(_.toDouble)
      val d = dx.zip(dy).map { case (p, q) => p * q }.sum
      d / (math.sqrt(dx.map(v => v * v).sum) *
        math.sqrt(dy.map(v => v * v).sum))
    }
    def best(src: Seq[(Long, Array[Float])],
             dst: Seq[(Long, Array[Float])]): Map[Long, Long] =
      src.map { case (i, v) =>
        i -> dst.map { case (j, w) => (j, cos(v, w)) }
          .minBy { case (j, c) => (-c, j) }._1
      }.toMap
    val ab = best(aRows, bRows); val ba = best(bRows, aRows)
    val want = ab.collect {
      case (ai, bi) if ba(bi) == ai => (ai, bi)
    }.toSet
    val got = Similarity.mutualBestMatch(
        aRows.toDF("vec_id", "embedding"),
        bRows.toDF("vec_id", "embedding"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("mutualBestMatch crossCollection: shared id values still match") {
    // cross-snapshot entity alignment: the same entity KEEPS its id, so
    // the (7,7) match is the signal — a self-exclusion filter would
    // silently drop exactly the most likely pairs
    val a = Seq((7L, Array(1.0f, 0.0f)), (8L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((7L, Array(0.99f, 0.05f)), (9L, Array(0.1f, 0.95f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualBestMatch(a, b)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === Set((7L, 7L), (8L, 9L)))
    // same-collection mode: id 7 must NOT match itself
    val self = Similarity.mutualBestMatch(a, b,
        crossCollection = false)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!self.contains((7L, 7L)))
  }

  test("mutualBestMatchIndexed: exact when every cell is probed, " +
    "recall-bounded under the 2-probe budget, brute twin agrees on cos") {
    val rnd = new scala.util.Random(41)
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 4))
    val a = mk(0 until 60).toDF("vec_id", "embedding", "label")
    val b = mk(100 until 160).toDF("vec_id", "embedding", "label")
    val brute = Similarity.mutualBestMatch(a, b)
      .select("a_id", "b_id", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // nProbe = |cells|: the index degrades gracefully to the exact
    // search — byte-for-byte the brute twin
    val full = Similarity.mutualBestMatchIndexed(a, b,
        cellCol = "label", nProbe = 4)
      .select("a_id", "b_id", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(full === brute)
    assert(brute.nonEmpty)
    // the bench budget (2 of 4 cells): every surviving pair's cos is
    // the TRUE pair cosine (approximation only prunes candidates; it
    // never mis-scores), and recall vs the twin stays useful — on this
    // isotropic fixture the probe ranking is uninformative, so ≥ the
    // ~(nProbe/|cells|)²-ish floor rather than near-1
    val two = Similarity.mutualBestMatchIndexed(a, b,
        cellCol = "label", nProbe = 2)
      .select("a_id", "b_id", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    two.foreach { case (pair, c) =>
      brute.get(pair).foreach(bc => assert(math.abs(bc - c) < 1e-9)) }
    val recall = two.keySet.intersect(brute.keySet).size.toDouble /
      brute.size
    assert(recall > 0.05 && recall <= 1.0,
      s"2-probe mutual recall $recall out of the plausible band")
  }

  test("marginMiningIndexed equals the ratio-margin driver replica " +
    "at full probe budget") {
    val rnd = new scala.util.Random(59)
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(6)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 3))
    val aRows = mk(0 until 24)
    val bRows = mk(100 until 130)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dx = x.map(_.toDouble); val dy = y.map(_.toDouble)
      dx.zip(dy).map { case (p, q) => p * q }.sum /
        (math.sqrt(dx.map(v => v * v).sum) *
          math.sqrt(dy.map(v => v * v).sum))
    }
    val k = 4
    def topk(src: Seq[(Long, Array[Float], Int)],
             dst: Seq[(Long, Array[Float], Int)]) =
      src.map { case (i, v, _) =>
        i -> dst.map { case (j, w, _) => (j, cos(v, w)) }
          .sortBy { case (j, c) => (-c, j) }.take(k)
      }.toMap
    val tka = topk(aRows, bRows); val tkb = topk(bRows, aRows)
    val want = tka.flatMap { case (ai, nns) =>
      val (bi, c) = nns.head
      val den = (nns.map(_._2).sum / nns.size +
        tkb(bi).map(_._2).sum / tkb(bi).size) / 2
      val m = c / den
      if (m >= 0.0) Some((ai, bi,
        BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      else None
    }.toSet
    // nProbe = |cells| = 3: the search side is exact, so only the
    // margin arithmetic is under test
    val got = Similarity.marginMiningIndexed(
        aRows.toDF("vec_id", "embedding", "label"),
        bRows.toDF("vec_id", "embedding", "label"),
        cellCol = "label", nProbe = 3, k = k, minMargin = 0.0)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2,
        BigDecimal(r._3).setScale(6, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(r._4).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("ivfHealth: per-cell population and quantization error match " +
    "hand computation") {
    // cell 0: (1,0) and (0,1) → centroid (0.5, 0.5); d² = 0.5 each.
    // cell 1: (2,0) alone → centroid (2,0); d² = 0.
    val stored = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 0),
      (2L, Array(2.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfHealth(stored,
        stored.select(col("vec_id"), col("label").as("cell")))
      .orderBy("cell")
      .as[(Int, Long, Double)].collect().toSeq
    assert(got === Seq((0, 2L, 0.5), (1, 1L, 0.0)))
  }

  test("assignToCells: arrivals get the stored index's argmin cell, " +
    "lower cell on ties") {
    val stored = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.1f, 0.9f), 1)).toDF("vec_id", "embedding", "label")
    val cells = stored.select(col("vec_id"), col("label").as("cell"))
    val arrivals = Seq(
      (10L, Array(0.8f, 0.2f)),   // near cell 0's centroid
      (11L, Array(0.05f, 0.95f))) // near cell 1's
      .toDF("vec_id", "embedding")
    val got = Similarity.assignToCells(arrivals, stored, cells)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(10L -> 0, 11L -> 1))
    // exact tie (equidistant arrival) → lower cell id
    val tied = Similarity.assignToCells(
        Seq((12L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding"),
        stored.select(col("vec_id"),
          // symmetric stored vectors so the two centroids mirror
          col("embedding"), col("label")),
        cells)
      .as[(Long, Int)].collect().toMap
    assert(tied === Map(12L -> 0))
  }

  test("probeFrontier: recall and cost are monotone in the budget, " +
    "full budget is exact") {
    val rnd = new scala.util.Random(97)
    val rows = (0 until 80).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 4)).toDF("vec_id", "embedding", "label")
    val cells = rows.select(col("vec_id"), col("label").as("cell"))
    val fr = Similarity.probeFrontier(
        rows.filter(col("vec_id") < 6), rows, cells, k = 3,
        budgets = Seq(1, 2, 4))
      .orderBy("n_probe")
      .select("n_probe", "recall_micro", "candidates_scanned",
        "n_exact", "n_hit")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(fr.map(_._1).toSeq === Seq(1L, 2L, 4L))
    // more probes never lose recall or scan fewer candidates
    assert(fr.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      s"recall not monotone: ${fr.mkString(", ")}")
    assert(fr.sliding(2).forall(p => p(0)._3 < p(1)._3),
      s"candidate volume not increasing: ${fr.mkString(", ")}")
    // budget = |cells| degrades to brute force: recall exactly 1
    assert(fr.last._2 === 1000000L, s"full-budget recall: ${fr.last}")
    assert(fr.last._4 === fr.last._5)
  }

  test("mutualBestMatchIndexed plan: no cartesian product, no " +
    "corpus-sized broadcast — only centroid-aggregate builds") {
    val rnd = new scala.util.Random(7)
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 3))
    val a = mk(0 until 40).toDF("vec_id", "embedding", "label")
    val b = mk(100 until 140).toDF("vec_id", "embedding", "label")
    val plan = Similarity.mutualBestMatchIndexed(a, b,
      cellCol = "label", nProbe = 2).queryExecution.executedPlan
    // shared AQE-aware traversal (PlanGuards.physicalNodes): unwraps
    // the adaptive root — whose children is empty pre-execution — and
    // pins a minimum tree size so the guard can never pass vacuously
    def all(p: org.apache.spark.sql.execution.SparkPlan) =
      graft.PlanGuards.physicalNodes(p, minNodes = 1)
    val nodes = graft.PlanGuards.physicalNodes(plan)
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")),
      "indexed mutual match must never cross-join")
    // the only nested-loop broadcasts allowed are the |cells|-row
    // centroid frames (their build subtree aggregates; a corpus half
    // broadcast — the quadratic plan this routing removed — would be a
    // raw scan/project subtree with no Aggregate below the exchange)
    nodes.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft =>
          j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight =>
          j.right
      }
      assert(all(build).exists(_.nodeName.contains("Aggregate")),
        s"non-aggregate broadcast build in indexed plan:\n$build")
    }
  }

  test("knnGraphIndexed: exact self-kNN at full probe budget, " +
    "true cosines + plausible recall at 2 probes") {
    val rnd = new scala.util.Random(83)
    val v = (0 until 80).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 4)).toDF("vec_id", "embedding", "label")
    // nProbe = |cells| degrades gracefully to the exact self-kNN:
    // byte-for-byte bruteForceTopK with the corpus as the query set
    val brute = Similarity.bruteForceTopK(v, v, k = 3)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    val full = Similarity.knnGraphIndexed(v, "label", nProbe = 4, k = 3)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(full === brute)
    assert(brute.nonEmpty)
    // 2-probe budget: every emitted edge carries the TRUE cosine
    // (pruning never mis-scores) and overall edge recall stays in the
    // plausible band for an isotropic fixture (≥ ~nProbe/|cells|)
    val bruteCos = brute.map(r => (r._1, r._2) -> r._4).toMap
    val two = Similarity.knnGraphIndexed(v, "label", nProbe = 2, k = 3)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    two.foreach { case (q, n, c) =>
      bruteCos.get((q, n)).foreach(bc => assert(math.abs(bc - c) < 1e-9))
    }
    val recall = two.map(r => (r._1, r._2)).toSet
      .intersect(bruteCos.keySet).size.toDouble / bruteCos.size
    assert(recall > 0.3 && recall <= 1.0,
      s"2-probe kNN-graph recall $recall out of the plausible band")
  }

  test("mutualKnnEdges keeps exactly the reciprocal pairs, " +
    "canonically ordered") {
    val rnd = new scala.util.Random(97)
    val v = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 3)).toDF("vec_id", "embedding", "label")
    val g = Similarity.knnGraphIndexed(v, "label", nProbe = 3, k = 3)
    val dir = g.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val expected = dir.filter { case (a, b) =>
      a < b && dir.contains((b, a)) }
    val got = Similarity.mutualKnnEdges(g)
      .as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture must produce at least one mutual edge")
    assert(got.forall { case (a, b) => a < b })
  }

  test("assignToStoredCells ≡ assignToCells: the frozen centroid file " +
    "gives every arrival the identical cell") {
    val rnd = new scala.util.Random(19)
    val corpus = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 4)).toDF("vec_id", "embedding", "label")
    val arrivals = (200 until 230).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val store = scratch(spark, "graft_ivf_seed")
    Similarity.seedIvfStore(corpus, "label", store)
    val stored = spark.read.parquet(s"$store/centroids")
    val viaStore = Similarity.assignToStoredCells(arrivals, stored)
      .as[(Long, Int)].collect().toSet
    val viaCorpus = Similarity.assignToCells(arrivals, corpus,
        corpus.select(col("vec_id"), col("label").as("cell")))
      .as[(Long, Int)].collect().toSet
    assert(viaStore === viaCorpus)
    assert(viaStore.size === 30)
    // the seeded assignment is the corpus's own (vec_id, cell) table
    val asg = spark.read.parquet(s"$store/assignment")
      .as[(Long, Int)].collect().toSet
    assert(asg === corpus.select("vec_id", "label")
      .as[(Long, Int)].collect().toSet)
  }

  test("frozenSearch against the corpus's own snapshot ≡ " +
    "knnGraphIndexed") {
    val rnd = new scala.util.Random(53)
    val v = (0 until 70).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 4)).toDF("vec_id", "embedding", "label")
    val cells = v.select(col("vec_id"), col("label").as("cell"))
    val cents = Similarity.centroidTable(
      v.select(col("vec_id"), col("embedding")), cells)
    val frozen = Similarity.frozenSearch(v, v, cells, cents,
        nProbe = 2, k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
      .as[(Long, Long, Int, Double)].collect().toSet
    val indexed = Similarity.knnGraphIndexed(v, "label", nProbe = 2,
        k = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(frozen === indexed)
    assert(frozen.nonEmpty)
  }

  test("knnGraphDelta ≡ from-scratch frozen search over the union; " +
    "overlapping arrival ids fail loudly") {
    val rnd = new scala.util.Random(59)
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    val corpus = mk(0 until 60).zipWithIndex.map { case ((id, e), i) =>
      (id, e, i % 4) }.toDF("vec_id", "embedding", "label")
    val cells = corpus.select(col("vec_id"), col("label").as("cell"))
    val cents = Similarity.centroidTable(
      corpus.select(col("vec_id"), col("embedding")), cells)
    val arrivals = mk(200 until 220).toDF("vec_id", "embedding")
    val old = Similarity.frozenSearch(corpus, corpus, cells, cents,
      nProbe = 2, k = 3)
    def rounded(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
      .as[(Long, Long, Int, Double)].collect().toSet
    val patched = Similarity.knnGraphDelta(old, corpus, cells, cents,
      arrivals, nProbe = 2, k = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    val unionVecs = corpus.select(col("vec_id"), col("embedding"))
      .unionByName(arrivals)
    val unionCells = cells.unionByName(
      Similarity.assignToStoredCells(arrivals, cents))
    val scratch = rounded(Similarity.frozenSearch(unionVecs, unionVecs,
      unionCells, cents, nProbe = 2, k = 3))
    assert(patched === scratch)
    // the fixture must actually exercise both change paths: arrivals
    // gained their own rows, and some EXISTING query's top-k changed
    assert(patched.exists(_._1 >= 200L), "arrival queries missing")
    val oldSet = rounded(old)
    assert(patched.exists { case (q, n, r, c) =>
      q < 200L && !oldSet.contains((q, n, r, c)) },
      "fixture must change at least one existing query's top-k")
    // disjoint-id precondition
    val e = intercept[IllegalArgumentException] {
      Similarity.knnGraphDelta(old, corpus, cells, cents,
        corpus.select(col("vec_id"), col("embedding")).limit(3),
        nProbe = 2, k = 3)
    }
    assert(e.getMessage.contains("already exist"))
  }

  test("rebuildIvfStore: health gate no-ops below thresholds, rebuilds " +
    "and swaps above them, folds the delta log, keeps prev/ rollback") {
    val rnd = new scala.util.Random(41)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    val v = vecs(0 until 60).zipWithIndex.map { case ((id, e), i) =>
      (id, e, i % 4) }.toDF("vec_id", "embedding", "label")
    val vOnly = v.select(col("vec_id"), col("embedding"))
    val store = scratch(spark, "graft_ivf_rebuild")
    Similarity.seedIvfStore(v, "label", store)
    val before = spark.read.parquet(s"$store/assignment")
      .as[(Long, Int)].collect().toSet
    // generous thresholds: gate holds, store untouched, health reported
    val (r0, d0, s0) = Similarity.rebuildIvfStore(vOnly, store,
      maxMeanD2 = 1e9, maxSkew = 1e9)
    assert(!r0 && d0 > 0 && s0 >= 1.0)
    assert(spark.read.parquet(s"$store/assignment")
      .as[(Long, Int)].collect().toSet === before)
    assert(!new java.io.File(s"$store/prev").exists(),
      "a gated no-op must not create the rollback copy")
    // expected rebuild = re-assignment against the CURRENT stored
    // centroids (assignment unchanged since seed, so the Lloyd update
    // reproduces them) — computed BEFORE the swap
    val expected = Similarity.assignToStoredCells(vOnly,
        spark.read.parquet(s"$store/centroids"))
      .as[(Long, Int)].collect().toSet
    val (r1, d1, _) = Similarity.rebuildIvfStore(vOnly, store,
      maxMeanD2 = 0.0)
    assert(r1 && math.abs(d1 - d0) < 1e-12,
      "gate inputs must not depend on the thresholds")
    val after = spark.read.parquet(s"$store/assignment")
      .as[(Long, Int)].collect().toSet
    assert(after === expected)
    assert(after !== before,
      "fixture must move at least one vector (label is not a Voronoi " +
        "partition of its own centroids)")
    assert(spark.read.parquet(s"$store/prev/assignment")
      .as[(Long, Int)].collect().toSet === before,
      "prev/ must hold the pre-swap snapshot")
    // delta-log folding: arrivals assigned against the live snapshot
    // land in the log; the next rebuild folds them into the merged
    // assignment, retires the log to prev/, and RETRAINS the
    // centroids (arrival mass shifts the means — consumers of the
    // swapped snapshot see the new quantizer)
    val arrivals = vecs(200 until 220).toDF("vec_id", "embedding")
    Similarity.assignToStoredCells(arrivals,
        spark.read.parquet(s"$store/centroids"))
      .write.mode("append").parquet(s"$store/assignment_delta")
    val centsBefore = spark.read.parquet(s"$store/centroids")
      .as[(Int, Seq[Double])].collect().toMap
    val (r2, _, _) = Similarity.rebuildIvfStore(
      vOnly.unionByName(arrivals), store, maxMeanD2 = 0.0)
    assert(r2)
    val mergedAfter = spark.read.parquet(s"$store/assignment")
    assert(mergedAfter.count() === 80L, "arrivals folded into the base")
    assert(!new java.io.File(s"$store/assignment_delta").exists(),
      "the folded delta log must retire with the snapshot it extended")
    val centsAfter = spark.read.parquet(s"$store/centroids")
      .as[(Int, Seq[Double])].collect().toMap
    assert(centsAfter.keySet === centsBefore.keySet)
    assert(centsAfter.exists { case (c, e) => centsBefore(c) != e },
      "arrival mass must shift at least one centroid")
    // coverage precondition fails loudly: the store now holds arrival
    // ids that vOnly cannot embed
    val e = intercept[IllegalArgumentException] {
      Similarity.rebuildIvfStore(vOnly, store, maxMeanD2 = 0.0)
    }
    assert(e.getMessage.contains("no embedding row"))
  }

  test("prefixDimRecall: full-dim row is exact by construction, each " +
    "dim row equals the pre-truncated brute force") {
    val rnd = new scala.util.Random(61)
    val v = (0 until 70).map(i =>
      (i.toLong, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val q = v.filter(col("vec_id") < 8)
    val curve = Similarity.prefixDimRecall(q, v, k = 4,
        dims = Seq(4, 8, 16))
      .select("dim", "n_exact", "n_hit", "recall_micro")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(curve.keySet === Set(4, 8, 16))
    // d = full dimension: the prefix search IS the exact search
    assert(curve(16)._4 === 1000000L)
    curve.values.foreach { case (_, nEx, nHit, rm) =>
      assert(nHit <= nEx && rm >= 0L && rm <= 1000000L)
    }
    // each dim's hits equal recall of a brute-force search over
    // PRE-truncated vectors — the curve is the real dim-budget search,
    // not an artifact of the one-pass formulation
    val exact = Similarity.bruteForceTopK(q, v, k = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    Seq(4, 8).foreach { d =>
      def trunc(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
      val truncTop = Similarity.bruteForceTopK(trunc(q), trunc(v), k = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
      assert(curve(d)._3 === truncTop.intersect(exact).size.toLong,
        s"dim=$d hits diverge from the pre-truncated brute force")
    }
  }

  test("prefixDimRecall: a dim past the embedding length fails loudly " +
    "instead of silently clamping") {
    // slice() clamps an oversized prefix to the full vector, which
    // would emit a duplicate full-dimension row mislabeled with the
    // larger dim (and a bogus recall anchor) — the guard must turn
    // that into a job failure naming the bad dim
    val rnd = new scala.util.Random(11)
    val v = (0 until 20).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val q = v.filter(col("vec_id") < 4)
    val e = intercept[Exception] {
      Similarity.prefixDimRecall(q, v, k = 3, dims = Seq(4, 16))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds embedding length")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
  }

  test("knnGraphIndexed plan: no cartesian product, no corpus-sized " +
    "broadcast — only centroid-aggregate builds") {
    val rnd = new scala.util.Random(29)
    val v = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat),
        i % 3)).toDF("vec_id", "embedding", "label")
    val plan = Similarity.knnGraphIndexed(v, "label", nProbe = 2, k = 3)
      .queryExecution.executedPlan
    // shared AQE-aware traversal with the mandatory tree-size pin
    def all(p: org.apache.spark.sql.execution.SparkPlan) =
      graft.PlanGuards.physicalNodes(p, minNodes = 1)
    val nodes = graft.PlanGuards.physicalNodes(plan)
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")),
      "indexed kNN graph must never cross-join")
    nodes.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft =>
          j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight =>
          j.right
      }
      assert(all(build).exists(_.nodeName.contains("Aggregate")),
        s"non-aggregate broadcast build in kNN-graph plan:\n$build")
    }
    // the per-query ranking must stay the BOUNDED aggregate — a
    // row_number window over the candidate set (what graft_topk
    // replaced) would re-shuffle the full candidate blow-up. The probe
    // ranking's |q|·|cells| WindowGroupLimit is the only window-class
    // node allowed, and it never touches candidates.
    val topkAggs = nodes.filter(n =>
      n.nodeName.contains("ObjectHashAggregate") &&
        n.toString.contains("graft_topk"))
    assert(topkAggs.nonEmpty,
      "kNN-graph ranking lost the bounded graft_topk aggregate")
    nodes.filter(_.nodeName == "Window").foreach { w =>
      assert(!w.toString.contains("cos"),
        s"candidate-set window crept back into the kNN-graph plan:\n$w")
    }
  }
}
