package graft

import graft.Staging._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.graph.{Graph, Walks}
import graft.multimodal.Multimodal
import graft.ops.{analytics, asof, baskets, expectations, exprs, qsketch, rangejoin, sketches, sweepline, timeseries, windows}
import graft.similarity.{LabelEval, Similarity}
import graft.sources.{HtmlTables, Layout, Parquet, StagedSources}
import graft.streaming.Streams
import graft.text.{Bpe, Importance, Packing, SuffixArray, Text}

/** suffix-array exact-substring index, scrubbing, decontamination — the SaIndex slice of the
  * extension surface, split out of [[ExtensionQueries]] (round 12)
  * with zero behavior change: entries are verbatim; shared artifact
  * helpers and oracle CTE fragments stay package-private in
  * [[ExtensionQueries]]. Composed back in [[ExtensionQueries.queries]]
  * / [[ExtensionQueries.oracleSql]]. */
private[graft] object SaIndexQueries {
  import Tables.t
  import ExtensionQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- benchmark contamination ------------------------------------------
    "q_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contamination(
        train = docs.filter(col("doc_id") % 97 =!= 0),
        benchmark = docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 5)
    }),

    // Bloom-sketch decontamination, reduced to a driver-checkable
    // verdict (the q_approx_* pattern): the exact contaminated count is
    // oracle-compared as-is; the bloom side is asserted to miss nothing
    // (the sketch's no-false-negative guarantee) and to stay under a 5%
    // false-positive rate. The DuckDB twin computes the exact side and
    // emits TRUE for both booleans, so the hash matches iff the sketch
    // behaves.
    "q_bloom_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val flagged = Dedup.bloomContaminated(train, bench,
        "doc_id", "text", k = 5)
      val exact = Dedup.contamination(train, bench, "doc_id", "text",
        k = 5)
        .select(col("train_id").as("doc_id"), lit(true).as("exact_hit"))
      train.select("doc_id")
        .join(flagged, Seq("doc_id"), "left")
        .join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("bloom_hit"), lit(false)).as("bh"),
          coalesce(col("exact_hit"), lit(false)).as("eh"))
        .agg(
          sum(when(col("eh"), 1L).otherwise(0L)).as("n_contaminated"),
          (sum(when(col("eh") && !col("bh"), 1L).otherwise(0L)) === 0L)
            .as("no_false_neg"),
          (sum(when(col("bh") && !col("eh"), 1L).otherwise(0L)) * 20L <=
            sum(when(!col("eh"), 1L).otherwise(0L))).as("fp_ok"))
    }),

    // substring-level dedup reporting: per doc, how much of it is
    // verbatim-repeated elsewhere in the corpus (4-token spans)
    "q_dup_spans" -> ((s, d) =>
      Text.dupSpans(t(s, d, "documents"), "doc_id", "text", k = 4)),

    // ---- distributed suffix array (prefix doubling) --------------------
    // the exact-substring-dedup index (Lee et al. 2022): every token
    // position ranked in lexicographic suffix order; O(log maxDocLen)
    // rounds of linear shuffles, dense re-ranks via the distributed
    // prefix sum — no global window, no driver state beyond two observed
    // scalars per round
    "q_suffix_array" -> ((s, d) =>
      SuffixArray.suffixArray(t(s, d, "documents"), "doc_id", "text")
        .orderBy("sa_rank")),

    // adjacent-LCP index over the AT-REST SA (sharedSuffixArray — the
    // persisted index a production dedup reads, not a per-query
    // rebuild): consecutive suffix pairs sharing a >=4-token prefix
    // (cap 8) — the raw repeated-span evidence, pairs adjacent in SA
    // order so repeats surface WITHOUT any all-pairs step
    "q_sa_lcp" -> ((s, d) =>
      SuffixArray.lcpFrom(sharedSuffixArray(s, d),
          t(s, d, "documents"), "doc_id", "text", cap = 8)
        .filter(col("lcp") >= 4)
        .orderBy("sa_rank")),

    // per-doc EXACT substring dup report: positions whose 5-token span
    // recurs anywhere in the corpus (SA-neighbor criterion) — the exact
    // counterpart of q_dup_spans' fixed-width shingle approximation;
    // reads the at-rest SA
    "q_sa_dup_positions" -> ((s, d) =>
      SuffixArray.dupPositionsFrom(sharedSuffixArray(s, d),
          t(s, d, "documents"), "doc_id", "text", minLen = 5)
        .orderBy("doc_id")),

    // exact substring REMOVAL (the other half of Lee et al. 2022):
    // maximal duplicated spans from the LCP index (gaps-and-islands
    // merge of flagged positions), scrubbed out; survivors emitted as
    // contiguous SEGMENTS so no fabricated juxtaposition crosses a cut
    "q_sa_scrub" -> ((s, d) =>
      SuffixArray.scrubSegments(sharedSuffixArray(s, d),
          t(s, d, "documents"), "doc_id", "text", minLen = 5)
        .orderBy("doc_id", "seg_id")),

    // the scrub guarantee, PROVEN over the scrubbed corpus's OWN
    // at-rest SA (sharedScrubbedSa — the cleaned corpus is itself a
    // snapshot, its index built once and read by every consumer):
    // count duplicated positions — exactly zero by construction
    // (every kept position's 5-gram was corpus-unique), so the oracle
    // hash locks the end-to-end exactness claim, not just the
    // plumbing (the within_bound convention)
    "q_sa_scrub_verify" -> ((s, d) => {
      val (segs, sa) = sharedScrubbedSa(s, d)
      SuffixArray.dupPositionsFrom(sa, segs, "seg_key", "seg_text",
          minLen = 5)
        .agg(count(lit(1)).as("n_segments"),
          sum(col("n_positions")).as("n_kept_tokens"),
          sum(col("n_dup_positions")).as("n_dup_after_scrub"))
    }),

    // EXACT position-level decontamination off the at-rest SA: train
    // positions whose 5-token span occurs verbatim in the benchmark
    // subset (doc_id%97=0 — the q_bloom_at_rest split, upgraded from
    // doc-level probabilistic to position-level exact). SA blocks with
    // adjacent LCP >= 5: a train suffix is contaminated iff its block
    // holds a benchmark suffix — three linear shuffles, never gram
    // explosion, never all-pairs
    "q_sa_decontaminate" -> ((s, d) =>
      SuffixArray.contaminatedPositions(sharedSuffixArray(s, d),
          t(s, d, "documents"), "doc_id", "text",
          isBench = _ % 97 === 0, minLen = 5)
        .orderBy("doc_id")),

    // per-doc longest shared prefix with ANY other doc (cap 8) off the
    // at-rest SA — the KV-cache-sharing / template-detection report:
    // only doc-start suffixes, only sort neighbors, never all pairs
    "q_sa_prefix_overlap" -> ((s, d) =>
      SuffixArray.docPrefixOverlap(sharedSuffixArray(s, d),
          t(s, d, "documents"), "doc_id", "text", cap = 8)
        .orderBy("doc_id")),

    // INCREMENTAL exact-substring maintenance: a delta batch (re-crawls
    // of every 13th doc under new ids, plus second copies of every
    // 39th — so all three verdict paths fire: delta-vs-old,
    // delta-within-delta, old-position-flips) merges into the dup
    // report by PROBING the at-rest SA probe index — the corpus is
    // never rescanned, the SA never rebuilt. The oracle recomputes the
    // whole combined corpus from scratch, locking the incremental
    // result to the from-scratch one (the q_dedup_cc_incremental
    // convention).
    "q_sa_delta_dup" -> ((s, d) => {
      val p = saProbeIndexDir(s, d)
      val docs = t(s, d, "documents")
      val delta = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 39 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      SuffixArray.deltaDupPositions(
          Parquet.read(s, s"$p/gram_positions"),
          Parquet.read(s, s"$p/gram_stats"),
          Parquet.read(s, s"$p/dup_report"),
          delta, "doc_id", "text", minLen = 5)
        .orderBy("doc_id")
    }),

    // the removal half of substring dedup (dupSpans is the report):
    // 4-token spans shared by >= 2 docs are cut from every carrier,
    // overlapping spans union as position sets, survivors reassemble
    "q_span_scrub" -> ((s, d) =>
      Text.spanScrub(t(s, d, "documents"), "doc_id", "text", k = 4)),

    // positional-index phrase search: postings filtered to the 2 phrase
    // terms before any shuffle, one aligned-position intersection join
    "q_phrase_search" -> ((s, d) =>
      Text.phraseSearch(t(s, d, "documents"), "doc_id", "text",
        "value table")),
  )

  def oracleSql: Map[String, String] = Map(
    "q_contamination" ->
      s"""WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                     generate_series(1, len(string_split_regex(trim(
                       regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ',
                       'g')), '\\s+')) - 4),
                     i -> array_to_string((string_split_regex(trim(
                       regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ',
                       'g')), '\\s+'))[i:i+4], ' ')))) AS u
            FROM documents),
          bench AS (SELECT DISTINCT u FROM sh WHERE doc_id % 97 = 0),
          train AS (SELECT doc_id AS train_id, u FROM sh
                    WHERE doc_id % 97 <> 0)
          SELECT train_id, COUNT(DISTINCT u) AS n_shared_shingles
          FROM train JOIN bench USING (u)
          GROUP BY train_id""",

    // exact side mirrors q_contamination; the two sketch booleans are
    // pinned TRUE — the hash matches iff the bloom missed nothing and
    // stayed under the fp bound
    "q_bloom_contamination" ->
      s"""WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                     generate_series(1, len(string_split_regex(trim(
                       regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ',
                       'g')), '\\s+')) - 4),
                     i -> array_to_string((string_split_regex(trim(
                       regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ',
                       'g')), '\\s+'))[i:i+4], ' ')))) AS u
            FROM documents),
          bench AS (SELECT DISTINCT u FROM sh WHERE doc_id % 97 = 0),
          cont AS (SELECT DISTINCT doc_id FROM sh
                   WHERE doc_id % 97 <> 0
                     AND u IN (SELECT u FROM bench))
          SELECT (SELECT COUNT(*) FROM cont)::BIGINT AS n_contaminated,
                 TRUE AS no_false_neg, TRUE AS fp_ok""",

    // non-distinct positional window twin of dTokens: unnest a
    // generate_series over window starts; docs shorter than k tokens
    // have no windows and JOIN BACK AT ZERO on both sides (the
    // every-doc contract)
    "q_dup_spans" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         w AS (
           SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS w
           FROM (SELECT doc_id, toks,
                        unnest(generate_series(1, len(toks) - 3)) AS i
                 FROM tok)),
         d AS (SELECT w, count(DISTINCT doc_id) AS nd FROM w GROUP BY w),
         per AS (
           SELECT doc_id, count(*)::BIGINT AS n_windows,
                  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT
                    AS n_dup_windows
           FROM w JOIN d USING (w) GROUP BY doc_id)
         -- every doc appears: sub-k docs join back at zero, matching
         -- the Spark side's every-doc contract
         SELECT t.doc_id,
                COALESCE(n_windows, 0)::BIGINT AS n_windows,
                COALESCE(n_dup_windows, 0)::BIGINT AS n_dup_windows,
                CASE WHEN COALESCE(n_windows, 0) > 0
                     THEN round(n_dup_windows::DOUBLE / n_windows, 6)
                     ELSE 0.0 END AS dup_ratio
         FROM tok t LEFT JOIN per USING (doc_id)""",

    // the twin materializes every suffix as a list slice and sorts —
    // quadratic in memory at big SF but exact, and DuckDB list order is
    // lexicographic shorter-prefix-first, the same contract prefix
    // doubling implements with its rank-0 sentinel
    "q_suffix_array" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
                  toks
           FROM tok)
         SELECT doc_id, pos::BIGINT AS pos,
                row_number() OVER (ORDER BY toks[pos:], doc_id, pos)
                  ::BIGINT AS sa_rank
         FROM pos""",

    // capped LCP via monotone prefix equality: count of j in 1..cap with
    // equal j-prefixes, clamped by both slice lengths (slices truncate,
    // so an unclamped count would overrun on equal slices)
    "q_sa_lcp" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
                  toks
           FROM tok),
         sa AS (
           SELECT doc_id, pos,
                  row_number() OVER (ORDER BY toks[pos:], doc_id, pos)
                    AS sa_rank,
                  toks[pos:pos+7] AS w
           FROM pos),
         sl AS (
           SELECT sa_rank, doc_id, pos, w,
                  lead(doc_id) OVER win AS nxt_doc_id,
                  lead(pos) OVER win AS nxt_pos,
                  lead(w) OVER win AS w2
           FROM sa WINDOW win AS (ORDER BY sa_rank)),
         lc AS (
           SELECT sa_rank::BIGINT AS sa_rank, doc_id,
                  pos::BIGINT AS pos, nxt_doc_id,
                  nxt_pos::BIGINT AS nxt_pos,
                  least((SELECT count(*) FROM generate_series(1, 8) g(j)
                         WHERE w[1:j] = w2[1:j]),
                        len(w), len(w2))::BIGINT AS lcp
           FROM sl WHERE nxt_doc_id IS NOT NULL)
         SELECT * FROM lc WHERE lcp >= 4""",

    // dup criterion: position's 5-token span recurs iff lcp with an
    // SA NEIGHBOR >= 5 (equal-prefix suffixes are contiguous in SA
    // order) — flag both sides of each qualifying adjacency
    "q_sa_dup_positions" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
                  toks
           FROM tok),
         sa AS (
           SELECT doc_id, pos,
                  row_number() OVER (ORDER BY toks[pos:], doc_id, pos)
                    AS sa_rank,
                  toks[pos:pos+4] AS w
           FROM pos),
         sl AS (
           SELECT sa_rank, doc_id, pos, w,
                  lead(doc_id) OVER win AS nxt_doc_id,
                  lead(pos) OVER win AS nxt_pos,
                  lead(w) OVER win AS w2
           FROM sa WINDOW win AS (ORDER BY sa_rank)),
         hits AS (
           SELECT doc_id, pos, nxt_doc_id, nxt_pos
           FROM sl
           WHERE nxt_doc_id IS NOT NULL
             AND least((SELECT count(*) FROM generate_series(1, 5) g(j)
                        WHERE w[1:j] = w2[1:j]),
                       len(w), len(w2)) >= 5),
         dup AS (
           SELECT doc_id, pos FROM hits
           UNION
           SELECT nxt_doc_id AS doc_id, nxt_pos AS pos FROM hits),
         per AS (
           SELECT doc_id, count(*)::BIGINT AS n_dup_positions
           FROM dup GROUP BY doc_id)
         SELECT t.doc_id, len(t.toks)::BIGINT AS n_positions,
                COALESCE(n_dup_positions, 0)::BIGINT AS n_dup_positions
         FROM tok t LEFT JOIN per USING (doc_id)""",

    // INDEPENDENT formulation of the engine's SA-neighbor criterion: a
    // position is duplicated iff its 5-gram occurs >=2 times in the
    // corpus (equal-prefix suffixes are SA-adjacent, so the two are
    // provably the same set); islands merge flagged covers into maximal
    // spans, survivors emit as contiguous segments
    "q_sa_scrub" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
                  toks
           FROM tok),
         g AS (
           SELECT doc_id, pos,
                  array_to_string(toks[pos:pos+4], ' ') AS gram
           FROM pos WHERE pos + 4 <= len(toks)),
         dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         marks AS (SELECT doc_id, pos FROM g
                   WHERE gram IN (SELECT gram FROM dupg)),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + 5
                       THEN 1 ELSE 0 END AS ni
           FROM marks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         isl2 AS (
           SELECT doc_id, pos,
                  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM isl),
         spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
           FROM isl2 GROUP BY doc_id, grp),
         lens AS (SELECT doc_id, len(toks) AS n, toks FROM tok),
         sp2 AS (
           SELECT doc_id, s, e,
                  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s),
                    0) AS pe,
                  row_number() OVER (PARTITION BY doc_id ORDER BY s)
                    AS rn,
                  count(*) OVER (PARTITION BY doc_id) AS nsp
           FROM spans),
         pre AS (SELECT doc_id, pe + 1 AS seg_start, s - 1 AS seg_end
                 FROM sp2 WHERE s - 1 >= pe + 1),
         tl AS (SELECT sp2.doc_id, e + 1 AS seg_start, n AS seg_end
                FROM sp2 JOIN lens USING (doc_id)
                WHERE rn = nsp AND n >= e + 1),
         whole AS (SELECT doc_id, 1 AS seg_start, n AS seg_end
                   FROM lens
                   WHERE n >= 1
                     AND doc_id NOT IN (SELECT doc_id FROM spans)),
         segs AS (SELECT * FROM pre UNION ALL SELECT * FROM tl
                  UNION ALL SELECT * FROM whole)
         SELECT s.doc_id,
                row_number() OVER (PARTITION BY s.doc_id
                  ORDER BY s.seg_start)::BIGINT AS seg_id,
                s.seg_start::BIGINT AS seg_start,
                (s.seg_end - s.seg_start + 1)::BIGINT AS n_seg_tokens,
                array_to_string(l.toks[s.seg_start:s.seg_end], ' ')
                  AS seg_text
         FROM segs s JOIN lens l USING (doc_id)
         ORDER BY doc_id, seg_id""",

    // the guarantee itself: re-run gram-dup detection over the scrubbed
    // segment corpus — n_dup_after_scrub is 0 by construction, and the
    // oracle recomputes it independently rather than trusting the claim
    "q_sa_scrub_verify" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
                  toks
           FROM tok),
         g AS (
           SELECT doc_id, pos,
                  array_to_string(toks[pos:pos+4], ' ') AS gram
           FROM pos WHERE pos + 4 <= len(toks)),
         dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         marks AS (SELECT doc_id, pos FROM g
                   WHERE gram IN (SELECT gram FROM dupg)),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + 5
                       THEN 1 ELSE 0 END AS ni
           FROM marks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         isl2 AS (
           SELECT doc_id, pos,
                  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM isl),
         spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
           FROM isl2 GROUP BY doc_id, grp),
         lens AS (SELECT doc_id, len(toks) AS n, toks FROM tok),
         sp2 AS (
           SELECT doc_id, s, e,
                  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s),
                    0) AS pe,
                  row_number() OVER (PARTITION BY doc_id ORDER BY s)
                    AS rn,
                  count(*) OVER (PARTITION BY doc_id) AS nsp
           FROM spans),
         pre AS (SELECT doc_id, pe + 1 AS seg_start, s - 1 AS seg_end
                 FROM sp2 WHERE s - 1 >= pe + 1),
         tl AS (SELECT sp2.doc_id, e + 1 AS seg_start, n AS seg_end
                FROM sp2 JOIN lens USING (doc_id)
                WHERE rn = nsp AND n >= e + 1),
         whole AS (SELECT doc_id, 1 AS seg_start, n AS seg_end
                   FROM lens
                   WHERE n >= 1
                     AND doc_id NOT IN (SELECT doc_id FROM spans)),
         segs AS (SELECT * FROM pre UNION ALL SELECT * FROM tl
                  UNION ALL SELECT * FROM whole),
         segdocs AS (
           SELECT l.toks[s.seg_start:s.seg_end] AS stoks
           FROM segs s JOIN lens l USING (doc_id)),
         spos AS (
           SELECT stoks, unnest(generate_series(1, len(stoks))) AS p
           FROM segdocs),
         sg AS (
           SELECT array_to_string(stoks[p:p+4], ' ') AS gram
           FROM spos WHERE p + 4 <= len(stoks)),
         sdup AS (SELECT gram FROM sg GROUP BY gram
                  HAVING count(*) >= 2)
         SELECT (SELECT count(*) FROM segdocs)::BIGINT AS n_segments,
                (SELECT sum(len(stoks)) FROM segdocs)::BIGINT
                  AS n_kept_tokens,
                (SELECT count(*) FROM sg
                 WHERE gram IN (SELECT gram FROM sdup))::BIGINT
                  AS n_dup_after_scrub""",

    // INDEPENDENT formulation: sort docs by their capped token prefix;
    // the best match is a sort neighbor (min(lcp, cap) commutes with
    // the max, so the capped sort agrees with the engine's full-suffix
    // SA order on the reported value)
    "q_sa_prefix_overlap" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         w AS (SELECT doc_id, toks[1:8] AS w FROM tok),
         ord AS (
           SELECT doc_id, w,
                  row_number() OVER (ORDER BY w, doc_id) AS r
           FROM w),
         adj AS (
           SELECT a.doc_id, a.w,
                  lead(a.w) OVER (ORDER BY a.r) AS wn,
                  lag(a.w) OVER (ORDER BY a.r) AS wp
           FROM ord a),
         lcp AS (
           SELECT doc_id,
                  greatest(
                    coalesce((SELECT count(*)
                              FROM generate_series(1, 8) g(j)
                              WHERE j <= len(w) AND j <= len(wn)
                                AND w[1:j] = wn[1:j]), 0),
                    coalesce((SELECT count(*)
                              FROM generate_series(1, 8) g(j)
                              WHERE j <= len(w) AND j <= len(wp)
                                AND w[1:j] = wp[1:j]), 0))::BIGINT
                    AS shared_prefix_len
           FROM adj)
         SELECT doc_id, shared_prefix_len
         FROM lcp ORDER BY doc_id""",

    // from-scratch recomputation over the COMBINED corpus (old docs +
    // the re-crawl delta): position duplicated iff its 5-gram occurs
    // >= 2 times anywhere in old ∪ delta — the independent gram-count
    // formulation of the SA-neighbor criterion, locking the engine's
    // incremental probe to the full rebuild
    "q_sa_delta_dup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000 AS doc_id, text FROM documents
           WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 20000000 AS doc_id, text FROM documents
           WHERE doc_id % 39 = 0),
         tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM corpus),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
                  toks
           FROM tok),
         g AS (
           SELECT doc_id, pos,
                  array_to_string(toks[pos:pos+4], ' ') AS gram
           FROM pos WHERE pos + 4 <= len(toks)),
         cnt AS (SELECT gram, count(*) AS n FROM g GROUP BY gram),
         dup AS (
           SELECT doc_id, count(*)::BIGINT AS n_dup
           FROM g JOIN cnt USING (gram) WHERE n >= 2
           GROUP BY doc_id)
         SELECT t.doc_id, len(t.toks)::BIGINT AS n_positions,
                COALESCE(n_dup, 0)::BIGINT AS n_dup_positions
         FROM tok t LEFT JOIN dup USING (doc_id)
         ORDER BY doc_id""",

    // INDEPENDENT formulation of the engine's SA-block criterion: a
    // train position is contaminated iff its 5-gram appears in some
    // benchmark doc (equal-prefix suffixes share an SA block with every
    // adjacent LCP >= 5, so the two are provably the same set)
    "q_sa_decontaminate" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
                  toks
           FROM tok),
         g AS (
           SELECT doc_id, pos,
                  array_to_string(toks[pos:pos+4], ' ') AS gram
           FROM pos WHERE pos + 4 <= len(toks)),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
         SELECT doc_id, count(*)::BIGINT AS n_contaminated_positions
         FROM g
         WHERE doc_id % 97 <> 0 AND gram IN (SELECT gram FROM bg)
         GROUP BY doc_id ORDER BY doc_id""",

    // mirrors spanScrub in 1-based positions: dup windows mark their k
    // positions per carrier doc, distinct position set, anti-join,
    // ordered reassembly; fully-scrubbed docs coalesce to ''
    "q_span_scrub" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(
                    lower(coalesce(text, '')), '[^a-z0-9\s]+', ' ',
                    'g')), '\s+') AS t
           FROM documents),
         w AS (
           SELECT doc_id, i, array_to_string(t[i:i+3], ' ') AS w
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t) - 3)) AS i
                 FROM tok)),
         d AS (SELECT w FROM (
                 SELECT w, count(DISTINCT doc_id) AS nd FROM w GROUP BY w)
               WHERE nd >= 2),
         rp AS (SELECT DISTINCT doc_id, p FROM (
                  SELECT doc_id, unnest(generate_series(i, i + 3)) AS p
                  FROM w JOIN d USING (w))),
         tp AS (SELECT doc_id, p, t[p] AS tok
                FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t))) AS p
                      FROM tok)),
         kept AS (SELECT tp.doc_id, tp.p, tp.tok
                  FROM tp LEFT JOIN rp
                    ON tp.doc_id = rp.doc_id AND tp.p = rp.p
                  WHERE rp.p IS NULL),
         agg AS (SELECT doc_id, count(*)::BIGINT AS cnt,
                        string_agg(tok, ' ' ORDER BY p) AS s
                 FROM kept GROUP BY doc_id)
         SELECT tok.doc_id, len(t)::BIGINT AS n_tokens,
                (len(t) - coalesce(cnt, 0))::BIGINT AS n_removed,
                coalesce(s, '') AS scrubbed
         FROM tok LEFT JOIN agg USING (doc_id)""",

    // mirrors phraseSearch: every aligned window start where the token
    // sequence equals the phrase; overlapping matches count
    "q_phrase_search" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(regexp_replace(lower(text),
                    '[^a-z0-9\s]+', ' ', 'g')), '\s+') AS t
           FROM documents),
         c AS (
           SELECT doc_id,
                  len(list_filter(generate_series(1, len(t) - 1),
                    i -> t[i] = 'value' AND t[i+1] = 'table'))::BIGINT
                    AS n_matches
           FROM tok)
         SELECT doc_id, n_matches FROM c WHERE n_matches >= 1""",
  )
}
