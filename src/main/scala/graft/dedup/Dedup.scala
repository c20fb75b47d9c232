package graft.dedup

import graft.Staging._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.Text

/** Corpus deduplication — exact, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup. Designed for the 100 TB shape:
  *
  *  - Exact dedup is a hash-groupBy: one shuffle on the content hash, no
  *    driver state, AQE handles skew from boilerplate duplicates.
  *  - MinHash is explode(permutation index) + groupBy(doc, perm) partial
  *    min — map-side combined, so the shuffle carries |docs|·k tiny rows.
  *  - LSH banding turns O(n²) pair generation into a self-join on band
  *    buckets; candidate verification (exact Jaccard) touches only the
  *    bucket-cojoined pairs.
  *  - Hash functions are salted md5 so the DuckDB oracle can reproduce the
  *    exact signatures (engine-portable determinism beats raw xxhash64
  *    speed at verification time; swap `hashFn` for xxhash64 in
  *    production where no cross-engine oracle is needed).
  */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per normalized-content hash. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fp", Text.exactFingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures over the doc's 3-shingle set, one row per (doc,
    * permutation) with the min salted hash md5("i:shingle").
    *
    * Two scale decisions: (1) shingles, not unigrams — unigram sets out of
    * a small vocabulary are all near-identical, so LSH buckets explode
    * into O(n²) candidates; shingle space is |vocab|^k and selective.
    * (2) hash per DISTINCT shingle, not per occurrence: the salted md5s
    * are computed once on the (much smaller) shingle vocabulary and
    * joined back, then the per-doc min is a map-side partial agg — the
    * shuffle carries |docs|·perms rows, never |occurrences|·perms. At
    * 100 TB swap the portable md5 for xxhash64 and skip the vocab join
    * entirely; md5 is kept here so the DuckDB oracle reproduces the
    * signatures bit for bit.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numPerms: Int): DataFrame = {
    val units = docs.select(col(idCol).as("doc_id"),
      explode(Text.shingles(Text.tokens(col(textCol)), 3)).as("u"))
    // all numPerms salted hashes inline per unit, then one columnar-min
    // partial agg: a single pass over the occurrences, one tiny shuffle
    // (|docs| rows), no vocab join. Hashing is cheap; shuffles aren't.
    val mins = units
      .groupBy("doc_id")
      .agg(
        min(md5(concat_ws(":", lit("0"), col("u")))).as("h0"),
        (1 until numPerms).map(i =>
          min(md5(concat_ws(":", lit(i.toString), col("u")))).as(s"h$i")): _*)
    // unpivot to the (doc_id, perm, mh) shape lshBuckets consumes
    mins.select(col("doc_id"),
      explode(array((0 until numPerms).map(i =>
        struct(lit(i).as("perm"), col(s"h$i").as("mh"))): _*)).as("x"))
      .select(col("doc_id"), col("x.perm").as("perm"), col("x.mh").as("mh"))
  }

  /** LSH band buckets: group each doc's signature into `numBands` bands of
    * `numPerms/numBands` rows, hash each band → (band, bucket) keys. */
  def lshBuckets(signatures: DataFrame, numBands: Int, numPerms: Int)
  : DataFrame = {
    val rowsPerBand = numPerms / numBands
    signatures
      .withColumn("band", (col("perm") / rowsPerBand).cast("int"))
      .groupBy("doc_id", "band")
      .agg(md5(concat_ws(",",
        array_sort(collect_list(struct(col("perm"), col("mh"))))
          .getField("mh"))).as("bucket"))
  }

  /** Candidate pairs from shared LSH buckets (doc_a < doc_b), deduped. */
  def lshCandidates(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"))
    val b = buckets.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Exact shingle-set Jaccard for a pair table — the verification step
    * after LSH candidate generation. A size-bound prefilter
    * (jaccard ≤ min(|A|,|B|)/max(|A|,|B|)) prunes pairs before the
    * expensive intersection; it cannot change the result, only skip work.
    */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, threshold: Double): DataFrame = {
    val units = docs.select(col(idCol).as("jid"),
      Text.shingles(Text.tokens(col(textCol)), 3).as("jset"))
    jaccardVerifyTail(pairs
      .join(units.select(col("jid").as("doc_a"), col("jset").as("set_a")),
        Seq("doc_a"))
      .join(units.select(col("jid").as("doc_b"), col("jset").as("set_b")),
        Seq("doc_b")), threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
        .as("jaccard"))
  }

  /** Shared exact-Jaccard verify tail over a joined pair frame carrying
    * (set_a, set_b): empty-pair NaN guard (both sets empty → 0/0 = NaN,
    * and NaN >= threshold is TRUE in Spark — a pair of shingle-less
    * docs must emit nothing), lossless size-ratio prefilter
    * (J(a,b) ≤ min/max), exact jaccard, threshold. One copy for the
    * three verify sites so the guard and prefilter can never diverge. */
  private def jaccardVerifyTail(joined: DataFrame, threshold: Double)
  : DataFrame = {
    // the guards live INSIDE when() expressions, not separate filters:
    // Catalyst may merge/reorder filter predicates, so a preceding
    // size-check filter does not stop the ratio division from being
    // evaluated on a 0-size row — which under the default ANSI mode is
    // a job-killing DIVIDE_BY_ZERO. when() keeps the division
    // unevaluated; the NULL it yields fails every >= threshold
    val maxSize = greatest(size(col("set_a")), size(col("set_b")))
    val sizeRatio = when(maxSize > 0,
      least(size(col("set_a")), size(col("set_b"))).cast("double") /
        maxSize)
    val unionSize = size(array_union(col("set_a"), col("set_b")))
    joined
      .filter(sizeRatio >= threshold)
      .withColumn("jaccard", when(unionSize > 0,
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          unionSize.cast("double")))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-doc distinct shingle sets, materialized once (`Staging.stage`)
    * so pipelines that need them in several subtrees — signature
    * generation AND candidate verification — don't re-run the tokenize +
    * shingle work per subtree. At cluster scale the same role is played
    * by a persisted/checkpointed intermediate or a staging table. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, k: Int)
  : DataFrame =
    docs.select(col(idCol).as("doc_id"),
      Text.shingles(Text.tokens(col(textCol)), k).as("shset"))
      .stage()

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidates →
    * exact-Jaccard verification, over one shared shingle materialization.
    *
    * Signature AND band-bucket generation are scan-local: the native
    * [[graft.functions.MinhashSig]] expression computes the whole
    * signature per doc in one pass (same md5 values as the exploded
    * groupBy(min) formulation in [[minhashSignatures]], which remains the
    * semantic reference), and each band bucket is md5 over a slice of that
    * signature array. The first shuffle in the whole pipeline is the
    * candidate self-join on (band, bucket) — at 100 TB nothing upstream
    * of it moves a byte. */
  /** Banded LSH bucket table for a (doc_id, shset) frame: one
    * (doc_id, band, bucket) row per doc·band, all scan-local (native
    * signature + per-band md5). This IS the dedup index a production
    * pipeline persists at ingest — [[minhashLshPairs]] builds it
    * transiently for a one-shot corpus pass, [[incrementalNearDups]]
    * treats the corpus side's table as that stored index. */
  def bandedBuckets(sets: DataFrame, numPerms: Int, numBands: Int)
  : DataFrame = {
    // loud validation: a non-divisible config would silently DROP the
    // trailing numPerms % numBands signature values from every bucket
    // (recall below the configured (b,r) curve), and numBands >
    // numPerms would md5 an empty slice — every doc in one bucket, a
    // full O(n²) candidate cross product
    require(numBands >= 1 && numBands <= numPerms &&
      numPerms % numBands == 0,
      s"numBands ($numBands) must divide numPerms ($numPerms)")
    val rowsPerBand = numPerms / numBands
    sets
      .filter(size(col("shset")) > 0)
      .withColumn("sig",
        call_function("graft_minhash", col("shset"), lit(numPerms)))
      .select(col("doc_id"),
        explode(array((0 until numBands).map(b =>
          struct(lit(b).as("band"),
            md5(concat_ws(",",
              slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
              .as("bucket"))): _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.bucket").as("bucket"))
  }

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      numPerms: Int, numBands: Int, threshold: Double)
  : DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, 3)
    // banded: (doc_id, band, bucket), 1 row per doc·band — checkpointed so
    // the candidate self-join's two sides don't each recompute the
    // md5-heavy signatures
    val banded = bandedBuckets(sets, numPerms, numBands).stage()
    val cands = lshCandidates(banded)

    jaccardVerifyTail(cands
      .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("set_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("set_b")),
        Seq("doc_b")), threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
        .as("jaccard"))
  }

  /** Corpus-internal near-dup pairs FROM the at-rest index artifacts —
    * [[minhashLshPairs]]' result when the (sets, banded-buckets) frames
    * already exist: candidates from the bucket self-join, exact Jaccard
    * from the STORED shingle sets. The corpus text is never
    * re-tokenized or re-hashed — the whole point of persisting the
    * index. [[incrementalNearDupsIndexed]] is the arrivals-probe side
    * of the same artifacts; this is the corpus-internal twin (seeding
    * a component store, periodic full-index audits). */
  def nearDupPairsFromIndex(sets: DataFrame, buckets: DataFrame,
                            threshold: Double): DataFrame =
    jaccardVerifyTail(lshCandidates(buckets)
      .join(sets.select(col("doc_id").as("doc_a"),
        col("shset").as("set_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"),
        col("shset").as("set_b")), Seq("doc_b")), threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
        .as("jaccard"))

  /** Persist the near-dup cluster index's three at-rest artifacts under
    * `path`: the shingle sets (`sets/`), their banded buckets
    * (`buckets/`) and the corpus's connected-component labels
    * (`labels_seed/`, written last) — the snapshot
    * [[graft.streaming.Streams.ccMaintainStream]] grows. ONE shingle
    * pass feeds all three: the staged sets/buckets are written AND
    * reused for the seed pairs via [[nearDupPairsFromIndex]]
    * ([[minhashLshPairs]] would re-tokenize + re-hash the corpus a
    * second time for the exact same pairs). */
  def seedClusterStore(corpus: DataFrame, idCol: String, textCol: String,
                       numPerms: Int, numBands: Int, threshold: Double,
                       path: String): Unit = {
    val sets = shingleSets(corpus, idCol, textCol, 3)
    sets.write.mode("overwrite").parquet(s"$path/sets")
    val banded = bandedBuckets(sets, numPerms, numBands).stage()
    banded.write.mode("overwrite").parquet(s"$path/buckets")
    connectedComponents(nearDupPairsFromIndex(sets, banded, threshold),
        "doc_a", "doc_b")
      .select("doc_id", "comp")
      .write.mode("overwrite").parquet(s"$path/labels_seed")
  }

  /** SimHash fingerprint (Charikar '02), `bits`-wide: per token take bit
    * j of md5(token), sum over tokens, bit set iff count*2 > n_tokens.
    *
    * `bits` up to 64 — production corpora want the full 64 (a 16-bit
    * space has only 65k fingerprints, so at corpus scale unrelated docs
    * collide constantly); 16 is kept as the cross-engine oracle width
    * (reproducible from md5 hex nibbles in the DuckDB twin; the 64-bit
    * path has its own bit-string oracle, `q_dedup_simhash64`).
    *
    * Scan-local via the native [[graft.functions.SimhashFp]] expression —
    * zero shuffle; [[simhashExploded]] keeps the built-in-only
    * formulation as the semantic reference (equivalence-tested in
    * DedupSpec). */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int)
  : DataFrame = {
    require(bits >= 1 && bits <= 64, "simhash fingerprints are 1..64 bits")
    docs.select(col(idCol).as("doc_id"),
      call_function("graft_simhash",
        Text.tokenSet(col(textCol)), lit(bits)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Reference formulation of [[simhash]] in pure built-ins:
    * explode(token) × explode(bit range) + two partial-agg groupBys —
    * the shuffle carries one row per (doc, bit). */
  def simhashExploded(docs: DataFrame, idCol: String, textCol: String,
                      bits: Int): DataFrame = {
    require(bits <= 16, "oracle-portable simhash uses the first 4 md5 nibbles")
    val tok = docs.select(col(idCol).as("doc_id"),
      Text.tokenSet(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(col("toks")).as("tok"))
      .withColumn("h", md5(col("tok")))
    // bit j of the 16-bit prefix: nibble j/4, bit 3-(j%4) of that nibble.
    tok.select(col("doc_id"), col("n_toks"),
      explode(sequence(lit(0), lit(bits - 1))).as("bit"),
      col("h"))
      .withColumn("nibble",
        hexNibble(col("h").substr(
          (col("bit") / 4).cast("int") + 1, lit(1))))
      .withColumn("bit_set",
        (col("nibble") / pow(lit(2.0), lit(3) - col("bit") % 4))
          .cast("int") % 2)
      .groupBy("doc_id", "bit")
      .agg(sum(col("bit_set")).as("ones"), max(col("n_toks")).as("n_toks"))
      .withColumn("bit_val",
        when(col("ones") * 2 > col("n_toks"),
          pow(lit(2.0), lit(bits - 1) - col("bit")).cast("bigint"))
          .otherwise(0L))
      .groupBy("doc_id")
      .agg(sum(col("bit_val")).cast("bigint").as("simhash"))
  }

  /** Hex nibble char ('0'-'9','a'-'f') → 0-15, expression-only. */
  private def hexNibble(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  /** SimHash near-dup pairs: ALL pairs at Hamming distance ≤ maxHamming,
    * found by pigeonhole banding — never a within-block quadratic join.
    *
    * The fingerprint is split into `maxHamming + 1` disjoint bit-bands;
    * two fingerprints within distance maxHamming differ in at most
    * maxHamming bands, so by pigeonhole they agree EXACTLY on at least
    * one band — candidates come from an equi-join on (band, band_value)
    * and the fan-out is (maxHamming+1)× rows, bounded by construction.
    * Unlike heuristic blocking on (lang, length) this is lossless (no
    * near-dup pair can be missed) AND its worst case is governed by band
    * selectivity (2^bandWidth values), not by data-defined block sizes:
    * at 64 bits / maxHamming 3 each band carries 16 bits → 65k-way
    * spread. The 16-bit oracle width only leaves 4-bit bands — fine at
    * verification scale; production uses bits=64. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int, maxHamming: Int): DataFrame = {
    // checkpointed: the band explode and both join sides read the
    // fingerprints; without it the md5 loop runs once per subtree
    val fps = simhash(docs, idCol, textCol, bits).stage()
    bandedHammingPairs(fps, "doc_id", "simhash", bits, maxHamming)
  }

  /** Pigeonhole band join over any (id, fingerprint) frame: exact
    * candidate generation for hamming(a, b) ≤ maxHamming.
    *
    * The band join runs over DISTINCT fingerprint VALUES, not rows: a
    * fingerprint space narrower than the corpus (always true for the
    * 16-bit oracle width, common for boilerplate-heavy corpora at 64)
    * otherwise multiplies every bucket match by the duplication factor
    * squared. Value-pairs found by the band join are expanded back to
    * id-pairs at the end, and identical-fingerprint id-pairs (hamming 0)
    * are emitted directly from one equi-self-join — both expansions are
    * output-bound, so the quadratic part of the work is only ever over
    * distinct values. A value-pair agreeing on several bands is generated
    * once per shared band; the `distinct` before expansion dedupes. */
  def bandedHammingPairs(fps: DataFrame, idCol: String, fpCol: String,
                         bits: Int, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(bits >= nBands, s"need at least $nBands bits for $nBands bands")
    val ids = fps.select(col(idCol).as("__id"), col(fpCol).as("__fp"))
    val distinctF = ids.select(col("__fp")).distinct().stage()
    // distribute bits over bands as evenly as possible, MSB first
    val widths = Array.tabulate(nBands)(b =>
      bits / nBands + (if (b < bits % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val banded = distinctF.select(col("__fp"),
      explode(array((0 until nBands).map { b =>
        val shiftBy = bits - offsets(b) - widths(b)
        val slice =
          if (widths(b) == 64) col("__fp")
          else shiftright(col("__fp"), shiftBy)
            .bitwiseAND(lit((1L << widths(b)) - 1))
        struct(lit(b).as("band"), slice.as("bv"))
      }: _*)).as("x"))
      .select(col("__fp"), col("x.band").as("band"), col("x.bv").as("bv"))
    val fpPairs = banded.toDF("fp_a", "band", "bv")
      .join(banded.toDF("fp_b", "band", "bv"), Seq("band", "bv"))
      .filter(col("fp_a") < col("fp_b"))
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("fp_a", "fp_b", "hamming")
      .distinct()
    // expand value-pairs to id-pairs (disjoint fp groups → ids differ)
    val cross = fpPairs
      .join(ids.select(col("__fp").as("fp_a"), col("__id").as("id_a")),
        Seq("fp_a"))
      .join(ids.select(col("__fp").as("fp_b"), col("__id").as("id_b")),
        Seq("fp_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming"))
    // identical fingerprints: hamming 0, straight equi-join
    val same = ids.toDF("id_a", "__fp")
      .join(ids.toDF("id_b", "__fp"), Seq("__fp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit(0).as("hamming"))
    cross.union(same)
  }

  /** The pre-banding formulation — a self-join blocked on (lang, length
    * bucket). Kept as the comparison baseline for DedupSpec: within one
    * block it finds the same pairs as [[simhashPairs]], but its worst
    * case is block² (a monolingual similar-length corpus is ONE block)
    * and near-dups straddling a block boundary are silently missed —
    * both reasons the banded generator replaced it. */
  def simhashPairsBlocked(docs: DataFrame, idCol: String, textCol: String,
                          bits: Int, maxHamming: Int): DataFrame = {
    val fps = simhash(docs, idCol, textCol, bits)
      .join(docs.select(col(idCol).as("doc_id"), col("lang"),
        (col("n_chars") / 64).cast("int").as("len_bucket")), Seq("doc_id"))
    val a = fps.toDF("doc_a", "sim_a", "lang", "len_bucket")
    val b = fps.toDF("doc_b", "sim_b", "lang", "len_bucket")
    a.join(b, Seq("lang", "len_bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Incremental near-dup check: NEW arrivals against an EXISTING corpus
    * — the daily-ingest shape of MinHash-LSH dedup. Candidates come from
    * a new×corpus band-bucket equi-join, never corpus×corpus: the corpus
    * side's [[bandedBuckets]] table and shingle sets are exactly what a
    * persisted dedup index stores (written once at ingest, reused every
    * arrival batch), so the per-batch cost scales with |new|·bands plus
    * the matched buckets — the corpus is only ever probed, not re-paired.
    * Returns (new_id, corpus_id, jaccard) for every cross pair at or
    * above the threshold. */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String, numPerms: Int,
                          numBands: Int, threshold: Double): DataFrame = {
    val corpusSets = shingleSets(corpus, idCol, textCol, 3)
    incrementalNearDupsIndexed(newDocs,
      corpusSets, bandedBuckets(corpusSets, numPerms, numBands),
      idCol, textCol, numPerms, numBands, threshold)
  }

  /** [[incrementalNearDups]] against a PREBUILT index: `corpusSets` and
    * `corpusIndex` are the persisted (doc_id, shset) + (doc_id, band,
    * bucket) tables a production pipeline maintains at rest — built
    * once, probed by every arrival batch ([[graft.streaming.Streams
    * .lshDedupStream]] is the streaming front door). Per call, only the
    * NEW side computes signatures; the corpus is only ever equi-joined. */
  def incrementalNearDupsIndexed(newDocs: DataFrame,
                                 corpusSets: DataFrame,
                                 corpusIndex: DataFrame,
                                 idCol: String, textCol: String,
                                 numPerms: Int, numBands: Int,
                                 threshold: Double): DataFrame = {
    val newSets = shingleSets(newDocs, idCol, textCol, 3)
    incrementalNearDupsFromSets(newSets,
      bandedBuckets(newSets, numPerms, numBands), corpusSets,
      corpusIndex, threshold)
  }

  /** [[incrementalNearDupsIndexed]] when the ARRIVAL side's artifacts
    * are already built too: a consumer that needs the batch's sets /
    * banded buckets for several purposes (probe the corpus, pair the
    * batch against itself, append to the at-rest index — exactly
    * [[graft.streaming.Streams.ccMaintainStream]]'s batch body) builds
    * them ONCE and passes them everywhere, instead of paying a
    * tokenize+hash pass per consumer. */
  def incrementalNearDupsFromSets(newSets: DataFrame,
                                  newBanded: DataFrame,
                                  corpusSets: DataFrame,
                                  corpusIndex: DataFrame,
                                  threshold: Double): DataFrame = {
    val cands = newBanded
      .select(col("band"), col("bucket"), col("doc_id").as("new_id"))
      .join(corpusIndex
        .select(col("band"), col("bucket"), col("doc_id").as("corpus_id")),
        Seq("band", "bucket"))
      .select("new_id", "corpus_id")
      .distinct()
    jaccardVerifyTail(cands
      .join(newSets.select(col("doc_id").as("new_id"),
        col("shset").as("set_a")), Seq("new_id"))
      .join(corpusSets.select(col("doc_id").as("corpus_id"),
        col("shset").as("set_b")), Seq("corpus_id")), threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6)
        .as("jaccard"))
  }

  /** Benchmark-contamination detection: for each train document, count
    * distinct k-shingles it shares with any benchmark document (the
    * decontamination step of a training-data pipeline, cf. GPT-3 appendix
    * C / Dolma). Shape: explode both sides to (shingle, doc), equi-join on
    * the shingle, count distinct per train doc — pure shuffle joins, no
    * cross product; the benchmark side is typically tiny and broadcasts.
    */
  def contamination(train: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int): DataFrame = {
    def units(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
        explode(Text.shingles(Text.tokens(col(textCol)), k)).as("u"))
    units(train, "train_id")
      .join(broadcast(units(benchmark, "bench_id").select("u").distinct()),
        Seq("u"))
      .groupBy("train_id")
      .agg(countDistinct(col("u")).as("n_shared_shingles"))
  }

  /** Sketch-side decontamination: flag train docs whose k-shingles hit a
    * Bloom filter built over the benchmark's distinct shingles, instead
    * of equi-joining against the shingle set itself ([[contamination]]).
    * The filter is bytes-bounded (`numBits/8`, 1 MiB at the default) no
    * matter how large the benchmark grows — at 100 TB that replaces an
    * unbounded broadcast set with a fixed-size sketch shipped in the
    * probe expression, and the probe stays scan-local (no join at all).
    *
    * Bloom guarantee: NO false negatives — every truly contaminated doc
    * is flagged; false positives are bounded by the filter's fpp (sized
    * by `expectedShingles`/`numBits`). Build + probe use Spark's own
    * runtime-filter expressions (BloomFilterAggregate /
    * BloomFilterMightContain, exposed as `graft_bloom_agg` /
    * `graft_might_contain`) over xxhash64'd shingles — deterministic,
    * seedless, so the flagged set is stable across runs and layouts.
    *
    * The collected filter is a single bounded binary (the sketch analog
    * of pulling Lloyd's k centroids) — not driver-side row data.
    *
    * @return (idCol, bloom_hit: boolean) for every train doc
    */
  /** Build the benchmark Bloom filter as a one-row FRAME (shingle_k,
    * num_bits, bf binary) — the persistable decontamination INDEX: a
    * production pipeline builds it once per benchmark release, writes
    * the ~numBits/8-byte blob to the lake, and every training-data
    * ingest probes the file ([[bloomProbe]]) without touching the
    * benchmark corpus again. Empty benchmark → null bf (probe yields
    * all-false). */
  def bloomBuild(benchmark: DataFrame, idCol: String, textCol: String,
                 k: Int, expectedShingles: Long = 1000000L,
                 numBits: Long = 1L << 23): DataFrame =
    benchmark
      .select(col(idCol),
        explode(Text.shingles(Text.tokens(col(textCol)), k)).as("u"))
      .agg(call_function("graft_bloom_agg", xxhash64(col("u")),
        lit(expectedShingles), lit(numBits)).as("bf"))
      .select(lit(k).as("shingle_k"), lit(numBits).as("num_bits"),
        col("bf"))

  /** Probe every train doc against a built/persisted Bloom frame
    * ([[bloomBuild]]'s output, possibly read back from the lake).
    * The blob is ONE row of numBits/8 bytes — the bounded collect a
    * broadcast filter is made of; the probe itself stays scan-local.
    * Guards that the frame was built with the same shingle width. */
  def bloomProbe(bloom: DataFrame, train: DataFrame, idCol: String,
                 textCol: String, k: Int): DataFrame = {
    val row = bloom.select(col("shingle_k"), col("bf")).head()
    require(row.getInt(0) == k,
      s"bloom index built with shingle_k=${row.getInt(0)}, probed with $k")
    probeBits(row.getAs[Array[Byte]]("bf"), train, idCol, textCol, k)
  }

  def bloomContaminated(train: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, k: Int,
                        expectedShingles: Long = 1000000L,
                        numBits: Long = 1L << 23): DataFrame = {
    val bf = bloomBuild(benchmark, idCol, textCol, k, expectedShingles,
      numBits).head().getAs[Array[Byte]]("bf")
    probeBits(bf, train, idCol, textCol, k)
  }

  private def probeBits(bf: Array[Byte], train: DataFrame, idCol: String,
                        textCol: String, k: Int): DataFrame = {
    // explode_OUTER: a train doc with fewer than k tokens has no
    // shingles and would vanish through a plain explode — the contract
    // is a row for EVERY train doc, and a shingle-less doc can share
    // nothing, so its null unit row scores a guarded false (the guard
    // matters: xxhash64(NULL) returns the seed, which could spuriously
    // probe true). Keeps the probe scan-local — no restore join.
    val trainU = train.select(col(idCol),
      explode_outer(Text.shingles(Text.tokens(col(textCol)), k)).as("u"))
    if (bf == null) // empty benchmark: nothing can be contaminated
      trainU.groupBy(col(idCol)).agg(lit(false).as("bloom_hit"))
    else
      trainU
        .select(col(idCol),
          when(col("u").isNotNull,
            call_function("graft_might_contain", lit(bf),
              xxhash64(col("u")))).otherwise(lit(false)).as("hit"))
        .groupBy(col(idCol))
        .agg(max(col("hit")).as("bloom_hit"))
  }

  /** Shared verify-join front for the exact set-similarity operators:
    * attaches both candidates' sorted id arrays and the native
    * `graft_overlap` merge-count. The doc→ids map is broadcast into
    * BOTH joins WHEN IT FITS — the staged frame has no stats, so AQE
    * can't make this call itself, and the shuffle alternative ships
    * each candidate's two id arrays through two exchanges while the map
    * is ~100× smaller. The hint is gated on a measured size estimate
    * (the staging makes the two-number agg a cheap local read): an
    * un-broadcastable lake-scale corpus takes the shuffle join — same
    * pairs, no driver/executor OOM from a forced build side. ONE copy
    * for jaccard + containment so the size formula cannot diverge. */
  private def overlapVerified(cands: DataFrame, enc: DataFrame,
                              broadcastBytesLimit: Long): DataFrame = {
    import enc.sparkSession.implicits._
    val (nDocs, totalIds) = enc
      .agg(count(lit(1)), sum(size(col("ids"))))
      .as[(Long, Option[Long])].head()
    val estBytes = nDocs * 32L + totalIds.getOrElse(0L) * 8L
    def verifySide(keyName: String, idsName: String): DataFrame = {
      val f = enc.toDF(keyName, idsName)
      if (estBytes <= broadcastBytesLimit) broadcast(f) else f
    }
    cands
      .join(verifySide("doc_a", "ids_a"), Seq("doc_a"))
      .join(verifySide("doc_b", "ids_b"), Seq("doc_b"))
      // native merge-count over the (sorted) id arrays; |A∪B| follows
      // as |A|+|B|−c, so no per-row set builds anywhere in the verify
      .withColumn("c", call_function("graft_overlap",
        col("ids_a"), col("ids_b")).cast("double"))
  }

  /** Shared staging for the exact set-similarity joins
    * ([[ngramJaccardPairs]], [[containmentPairs]]): each doc's DISTINCT
    * k-shingles dictionary-encoded to a dense long id ranked by
    * (df, gram) ascending — AllPairs/PPJoin's canonical ordering — and
    * returned as (doc_id, ids: sorted array<long>).
    *
    * The rank is computed distributed (sortBy + zipWithIndex — partition
    * sizes + per-partition offsets, never a single-partition window);
    * encoding makes the candidate-join key an 8-byte long and the verify
    * arrays array<long>, ~8× less data in flight than raw grams. The
    * result is checkpointed: every caller reads it at least three ways
    * (prefix/index explode + both verify sides). */
  private def dfRankedIdSets(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // materialize once: the dictionary build and the encode join read the
    // same gram sets. Spread the checkpoint across the cluster first —
    // the source may be a handful of row groups (testdata: ONE), and
    // downstream stages inherit the checkpoint's partitioning.
    val spreadDocs = spread(docs)
    // graft_shingles emits each doc's DISTINCT k-grams (set semantics)
    val sets = spreadDocs.select(col("doc_id"),
      Text.shingles(Text.tokens(col("text")), k).as("grams"))
      .filter(size(col("grams")) > 0)
      .stage()
    val dict = sets.select(explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .sort("df", "g").select("g").as[String].rdd
      .zipWithIndex.toDF("g", "gid")
    sets.select(col("doc_id"), explode(col("grams")).as("g"))
      .join(dict, Seq("g"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("gid"))).as("ids"))
      .stage()
  }

  /** n-gram (word k-shingle) Jaccard near-dup pairs: ALL pairs with
    * J(A, B) ≥ threshold, by EXACT prefix filtering (SSJoin/AllPairs) —
    * no heuristic blocking, no unbounded self-join.
    *
    * Prefix-filter lemma: sort every gram set in one global order. If
    * J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, and the SMALLEST common gram must
    * sit inside A's first |A| − ⌈t·|A|⌉ + 1 grams (else all common grams
    * fall in the ⌈t·|A|⌉ − 1 suffix — too few); same for B. So every
    * qualifying pair shares a gram in the two PREFIXES, and an equi-join
    * on exploded prefix grams generates a candidate superset — lossless,
    * like LSH banding but deterministic.
    *
    * The global order is ASCENDING DOCUMENT FREQUENCY (AllPairs/PPJoin's
    * canonical ordering), realized by dictionary-encoding every gram to a
    * dense long id ranked by (df, gram): prefixes then hold each doc's
    * RAREST grams, so the candidate join fans out on low-df keys and a
    * stop-phrase's df² blowup never enters a prefix. Encoding also makes
    * the join key an 8-byte long and the verify arrays array<long> —
    * ~8× less data in flight than raw 20-char grams. The rank is
    * computed distributed (sortBy + zipWithIndex), never a
    * single-partition window.
    *
    * Candidates are further cut by two lossless prefilters evaluated
    * INSIDE the join, before the distinct: the size-ratio bound
    * (J ≤ min(n)/max(n)) and PPJoin's positional bound — a pair's first
    * shared gram at positions (i_a, i_b) caps the total overlap at
    * 1 + min(n_a−i_a, n_b−i_b), which must reach t·(n_a+n_b)/(1+t).
    * Both bounds are relaxed by an epsilon so float rounding can only
    * ADMIT a candidate, never drop a true pair. */
  def ngramJaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                        broadcastBytesLimit: Long = 256L << 20)
  : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    import docs.sparkSession.implicits._
    val enc = dfRankedIdSets(docs, k)
    // ε-relaxed prefix length: ceil(t·n) computed on a float product that
    // lands ulp-high would shorten the prefix and DROP a true pair; the
    // slack only ever lengthens it by one
    val prefLen = (size(col("ids")) -
      ceil(lit(threshold) * size(col("ids")) - lit(1e-9)) + 1).cast("int")
    val pref = enc.select(col("doc_id"), size(col("ids")).as("n"),
      posexplode(slice(col("ids"), lit(1), prefLen)))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("i"),
        col("col").as("gid"))
    // required overlap for J ≥ t: c ≥ t·(n_a+n_b)/(1+t), ε-relaxed
    val reqOverlap = lit(threshold) / (lit(1.0) + lit(threshold)) *
      (col("n_a") + col("n_b")) - lit(1e-9)
    val cands = pref
      .select(col("gid"), col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("i").as("i_a"))
      .join(pref.select(col("gid"), col("doc_id").as("doc_b"),
        col("n").as("n_b"), col("i").as("i_b")), Seq("gid"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      .filter((lit(1) + least(col("n_a") - col("i_a"),
        col("n_b") - col("i_b"))).cast("double") >= reqOverlap)
      .select("doc_a", "doc_b")
      .distinct()
    overlapVerified(cands, enc, broadcastBytesLimit)
      .withColumn("jaccard", col("c") /
        (size(col("ids_a")) + size(col("ids_b")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
        .as("jaccard"))
  }

  /** Shingle containment pairs: every ORDERED pair with
    * C(A→B) = |A∩B| / |A| ≥ threshold, A ≠ B — the asymmetric near-dup
    * relation ("A is mostly inside B") that Jaccard misses when a short
    * doc is embedded in a long one, and the primitive behind
    * quote/boilerplate detection and sub-document contamination.
    *
    * Exact, via the containment variant of prefix filtering: if
    * c ≥ t·|A| the smallest common gram (df-ascending dictionary order,
    * [[dfRankedIdSets]]) sits in A's first |A| − ⌈t·|A|⌉ + 1 grams, so
    * joining A-PREFIXES against B's FULL inverted index yields a
    * lossless candidate superset. Unlike the Jaccard join there is no
    * size-ratio cut on the B side (B may be arbitrarily large); the
    * per-row cuts are |B| ≥ t·|A| (overlap ≤ |B|) and the positional
    * bound 1 + min(n_a−i_a, n_b−i_b) ≥ t·n_a, both valid on the
    * smallest-common-gram row that the lemma guarantees survives, both
    * ε-relaxed so float rounding can only ADMIT. The B-side explode is
    * the corpus inverted index — its high-df postings meet only
    * A-prefixes that contain that gram, and prefixes hold each doc's
    * RAREST grams, so stop-phrase df² blowup never materializes. */
  def containmentPairs(docs: DataFrame, k: Int, threshold: Double,
                       broadcastBytesLimit: Long = 256L << 20)
  : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    import docs.sparkSession.implicits._
    val enc = dfRankedIdSets(docs, k)
    val prefLen = (size(col("ids")) -
      ceil(lit(threshold) * size(col("ids")) - lit(1e-9)) + 1).cast("int")
    val pref = enc.select(col("doc_id"), size(col("ids")).as("n"),
      posexplode(slice(col("ids"), lit(1), prefLen)))
      .select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        (col("pos") + 1).as("i_a"), col("col").as("gid"))
    val index = enc.select(col("doc_id"), size(col("ids")).as("n"),
      posexplode(col("ids")))
      .select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        (col("pos") + 1).as("i_b"), col("col").as("gid"))
    val reqOverlap = lit(threshold) * col("n_a") - lit(1e-9)
    val cands = pref.join(index, Seq("gid"))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(col("n_b").cast("double") >= reqOverlap)
      .filter((lit(1) + least(col("n_a") - col("i_a"),
        col("n_b") - col("i_b"))).cast("double") >= reqOverlap)
      .select("doc_a", "doc_b")
      .distinct()
    overlapVerified(cands, enc, broadcastBytesLimit)
      .withColumn("containment", col("c") / size(col("ids_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 6)
        .as("containment"))
  }

  /** Connected components over a duplicate-pair graph — the step that
    * turns pairwise near-dup hits into dedup DECISIONS: every doc in a
    * component gets the component's minimum id as its cluster label, and
    * the label-owner is the canonical copy to keep.
    *
    * Min-label propagation with pointer doubling: labels start at
    * min(self, neighbors) — one aggregation, equivalent to a whole first
    * round — then each round every vertex takes the smallest label among
    * its neighbors' labels, its own, AND its label's label (the
    * pointer-doubling shortcut that collapses a chain of length d in
    * O(log d) rounds instead of O(d) — near-dup graphs are mostly
    * cliques, but chained near-dups otherwise make round count
    * data-dependent). Each round's result is `Staging.stage`d:
    * iterative plans otherwise stack lineage until planning dominates.
    *
    * Convergence is detected from sum(comp): labels only ever decrease,
    * so an unchanged checksum means a fixpoint — one scan-local
    * aggregation per round, where a changed-count join would be another
    * shuffle. No driver-side graph state — the driver only sees that
    * checksum, so a 100 TB pair set iterates entirely as shuffles.
    *
    * Returns (doc_id, comp, is_canonical) for every vertex of the graph.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    // symmetrize in ONE pass over the (expensive) pair pipeline: explode
    // each pair into both directions instead of a union that would run
    // pair generation twice, then materialize once for the loop. Assumes
    // the pair table has no duplicate pairs (true of every generator in
    // this file — they end in distinct() or a groupBy); dup edges would
    // only fan out the join, never change the min-label result.
    val sym = pairs
      .select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .stage()

    // coalesce: sum over zero rows is null — an empty pair table (corpus
    // with no near-dups) must converge on the first iteration, not NPE.
    // The checksum rides each round's OWN staging job as an observe()
    // metric (Staging.stageObserved) — labels only ever decrease, so an
    // unchanged sum is a fixpoint, and detection costs zero extra jobs.
    def ckMetric = coalesce(sum(col("comp").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("ck")

    // every vertex appears as src (sym is symmetric), so one groupBy
    // seeds each vertex with min(self, all neighbors)
    val (seed, seedRow) = graft.Staging.stageObserved(
      sym.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("mind"))
        .select(col("id"), least(col("id"), col("mind")).as("comp")),
      ckMetric)
    var labels = seed
    var prevSum = seedRow("ck").asInstanceOf[java.math.BigDecimal]
    var converged = false
    while (!converged) {
      // labels of my neighbors; label of my label (comp values are vertex
      // ids, so the self-join always resolves); my own label.
      // shuffle_hash: build the node-sized labels side and stream the
      // E-row sym frame unsorted — the default SortMergeJoin re-sorts
      // sym every round (guide §3.1; the Graph.powerIterate idiom)
      val viaNeighbors = sym.join(labels.hint("shuffle_hash"),
          sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("comp"))
      val viaLabel = labels.as("l1")
        .join(labels.as("l2"), col("l1.comp") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.comp").as("comp"))
      val (next, row) = graft.Staging.stageObserved(
        viaNeighbors.union(viaLabel).union(labels)
          .groupBy("id")
          .agg(min("comp").as("comp")),
        ckMetric)
      val s = row("ck").asInstanceOf[java.math.BigDecimal]
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    labels.select(col("id").as("doc_id"), col("comp"),
      (col("id") === col("comp")).as("is_canonical"))
  }

  /** Incremental component maintenance — the daily-ingest half of
    * cluster dedup: yesterday's (doc_id, comp) assignment is an AT-REST
    * artifact; today's arrivals contribute only their new pairs (new×new
    * plus new×corpus via the persisted LSH index), and the merged
    * partition comes from running [[connectedComponents]] over the
    * label STARS plus the new edges. CC(stars ∪ newPairs) =
    * CC(oldPairs ∪ newPairs) — each star is its component collapsed to
    * depth 1 — so the fixpoint converges in rounds bounded by the NEW
    * merge chains' diameter, not the corpus's: the whole history never
    * re-propagates. Self-label rows become self-loops, which the
    * min-label fold ignores, so untouched singletons ride through.
    * Returns the full updated (doc_id, comp, is_canonical). */
  def incrementalComponents(labels: DataFrame, idCol: String,
                            labelCol: String, newPairs: DataFrame,
                            aCol: String, bCol: String): DataFrame =
    connectedComponents(
      labels.select(col(idCol).cast("long").as("__ia"),
          col(labelCol).cast("long").as("__ib"))
        .unionByName(newPairs.select(col(aCol).cast("long").as("__ia"),
          col(bCol).cast("long").as("__ib"))),
      "__ia", "__ib")

  /** Corpus-level dedup decision: drop every non-canonical member of a
    * duplicate component, keep everything else (docs with no dup edge
    * never enter the pair graph and pass through untouched). One
    * left-anti join against the non-canonical set — usually ≪ corpus
    * (it is the duplicate mass), but a heavily duplicated corpus can
    * push it toward corpus size, so no broadcast hint: AQE picks the
    * strategy from the measured size. */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String, bCol: String): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(!col("is_canonical"))
      .select(col("doc_id").as("__drop_id"))
    docs.join(drop, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** Entity-resolution golden records: assign every record to its
    * duplicate-cluster entity (singletons are their own entity) and
    * collapse each entity to ONE row under deterministic survivorship
    * rules — the merge step every MDM/ER pipeline runs after matching
    * (match pairs in, registry out).
    *
    * Survivorship here: entity id = cluster min id, representative =
    * the most-complete member (`completenessCol` DESC, id ASC — the
    * "longest record wins" rule), plus membership/completeness stats.
    * All picks are total orders, so the registry is deterministic
    * across partitionings and engines.
    *
    * Shape: [[connectedComponents]] (staged fixpoint rounds) + one left
    * join to assign + one hash aggregate — the aggregate's `max_by`
    * avoids a per-entity sort window, so the merge is map-side
    * combinable and the shuffle is |entities| rows.
    *
    * @return (entity_id, n_members, max_<completeness>, sum_<...>,
    *         rep_<id>) — one row per entity over the FULL corpus
    */
  def goldenRecords(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String, bCol: String,
                    completenessCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
      .select(col("doc_id").as(idCol), col("comp"))
    docs.join(comps, Seq(idCol), "left")
      .withColumn("entity_id",
        coalesce(col("comp"), col(idCol).cast("long")))
      .groupBy("entity_id")
      .agg(count(lit(1)).as("n_members"),
        max(col(completenessCol)).as(s"max_$completenessCol"),
        sum(col(completenessCol)).as(s"sum_$completenessCol"),
        max_by(col(idCol),
          struct(col(completenessCol), (-col(idCol)).as("nid")))
          .as(s"rep_$idCol"))
  }

  /** Leakage-safe train/val/test split: assign each NEAR-DUP CLUSTER —
    * not each document — to a split, so two near-copies of one page
    * can never straddle train and test (the eval-contamination leak a
    * per-doc hash split silently commits; cf. the dedup-then-split
    * discipline in GPT-3/C4-style corpus prep). Singletons are their
    * own cluster; the split is the deterministic md5 bucket of the
    * CLUSTER id ([[graft.text.Text.splitBucket]]), so re-runs and
    * engines agree and adding documents never reshuffles existing
    * clusters across splits.
    *
    * Shape: [[connectedComponents]] over the match pairs (pair-table
    * sized, pointer-doubled), one left join onto the corpus, then
    * scan-local hashing — nothing corpus-quadratic.
    *
    * @param trainPct/valPct split percentages (test = remainder)
    * @return docs + (cluster_id, split)
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String,
                       trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: $trainPct/$valPct")
    val comps = connectedComponents(pairs, aCol, bCol)
      .select(col("doc_id").as(idCol), col("comp"))
    docs.join(comps, Seq(idCol), "left")
      .withColumn("cluster_id",
        coalesce(col("comp"), col(idCol).cast("long")))
      .withColumn("__bucket",
        graft.text.Text.splitBucket(col("cluster_id"), 100))
      .withColumn("split",
        when(col("__bucket") < trainPct, "train")
          .when(col("__bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .drop("comp", "__bucket")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo '95): sort the
    * corpus by a similarity-preserving key, slide a `window`-row pane,
    * and emit every pair that co-occupies a pane — the classic
    * entity-resolution candidate generator when records lack a clean
    * equi-join block (near-identical names/balances/dates land
    * adjacent in the sort, so candidate volume is n·(window−1)
    * regardless of value skew, where a hot equi-block would blow up
    * quadratically). Feed the pairs to a match scorer and then
    * [[goldenRecords]].
    *
    * The global position is a distributed range sort + `zipWithIndex`
    * ([[dfRankedIdSets]]' dictionary idiom — partition sizes and
    * per-partition offsets, NEVER a single-partition window), then one
    * offset-explode equi-join on the rank: each row meets exactly its
    * `window − 1` successors. Ties in the key order deterministically
    * by id — same contract the oracle's `row_number` mirrors.
    *
    * @param keyCol sort-key column (string; build it with an
    *               expression that places likely matches adjacently —
    *               zero-padded numeric buckets, phonetic codes, name
    *               prefixes)
    * @return (doc_a, doc_b, key_a, key_b) with doc_a strictly earlier
    *         in the sort order
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              keyCol: String, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val keyed = docs.select(col(idCol).as("doc_id"),
      col(keyCol).cast("string").as("k"))
    val ranked = docs.sparkSession.createDataFrame(
      keyed.sort("k", "doc_id").rdd.zipWithIndex.map {
        case (row, idx) => org.apache.spark.sql.Row.fromSeq(
          row.toSeq :+ idx)
      },
      keyed.schema.add("rn", org.apache.spark.sql.types.LongType,
        nullable = false))
      .stage()
    val left = ranked
      .withColumn("off", explode(sequence(lit(1), lit(window - 1))))
      .select(col("doc_id").as("doc_a"), col("k").as("key_a"),
        (col("rn") + col("off")).as("rn"))
    left.join(ranked.select(col("doc_id").as("doc_b"),
        col("k").as("key_b"), col("rn")), Seq("rn"))
      .select("doc_a", "doc_b", "key_a", "key_b")
  }
}
