package graft

import graft.ArtifactStore.scratch
import graft.Staging._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.graph.{Graph, Walks}
import graft.multimodal.Multimodal
import graft.ops.{analytics, asof, baskets, expectations, exprs, qsketch, rangejoin, sketches, sweepline, timeseries, windows}
import graft.similarity.{LabelEval, Similarity}
import graft.sources.{HtmlTables, Layout, StagedSources}
import graft.streaming.Streams
import graft.text.{Bpe, Importance, Packing, SuffixArray, Text}

/** Structured Streaming surface incl. the index-maintenance streams — the Streaming slice of the
  * extension surface, split out of [[ExtensionQueries]] (round 12)
  * with zero behavior change: entries are verbatim; shared artifact
  * helpers and oracle CTE fragments stay package-private in
  * [[ExtensionQueries]]. Composed back in [[ExtensionQueries.queries]]
  * / [[ExtensionQueries.oracleSql]]. */
private[graft] object StreamingQueries {
  import Tables.t
  import ExtensionQueries._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sessionization (batch gaps-and-islands) --------------------------
    "q_sessionize" -> ((s, d) =>
      Streams.sessionizeBatch(
        Tables.events(s, d).select("event_id", "user_id", "ts", "value"),
        gapMinutes = 30)),

    // built-in session_window: same merge rule as sessionizeBatch
    // (gap > 30 min starts a session), window end = last event + gap
    "q_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"),
          col("sum_value"))),

    // ---- streaming ---------------------------------------------------------
    "q_stream_daily_agg" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt")
      Streams.dailyEventAgg(s, d, ckpt)
        .select(to_date(col("day")).as("day"), col("event_type"),
          col("cnt"), col("sum_value"))
    }),

    // incremental Markov transition counts: per-user fMGWS state holds
    // the last event, batch-boundary steps included; probabilities are
    // a read-time view (ranking/probability isn't incremental-safe,
    // counts are)
    "q_stream_markov" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_mkv")
      Streams.markovStream(s, d, ckpt)
        .orderBy("from_type", "to_type")
    }),

    // streaming count-min sketch: cells ARE the aggregation state
    // (bounded d·w rows for any key cardinality); probe with the batch
    // key list — same output and oracle as q_cms_topk, because the
    // micro-batched sketch merges to the batch one by construction
    "q_stream_cms" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_cms")
      val sketch = Streams.cmsStream(s, d, ckpt, "user_id",
        depth = 4, width = 256)
      val ev = Tables.events(s, d)
      sketches.cmsEstimate(sketch, ev.select("user_id").distinct(),
          "user_id", depth = 4, width = 256)
        .join(ev.groupBy("user_id").agg(count(lit(1)).as("true_c")),
          Seq("user_id"))
        .orderBy(desc("est"), col("user_id"))
        .limit(25)
    }),

    // streaming quantile sketch: HDR bucket counts as bounded
    // complete-mode agg state (≤64·2^5 rows at any cardinality);
    // micro-batches are the shards, so stream ≡ batch IS the merge
    // property — the oracle is the batch bucket math over the same
    // events
    "q_stream_quantile" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_qsk")
      val sk = Streams.quantileSketchStream(s, d, ckpt,
          (col("value").cast("decimal(18,2)") * 100).cast("long"), 5)
        .withColumn("bkt_hi", col("bkt_lo") +
          call_function("shiftleft", lit(1L),
            greatest((length(bin(col("bkt_lo"))) - 1)
              .cast("int") - 5, lit(0))) - 1)
      qsketch.quantiles(sk, Seq(500, 990))
        .select(col("q_permille"), col("n"), col("est_lo"),
          col("est_hi"))
        .orderBy("q_permille")
    }),

    // incremental OHLC candles: order-insensitive min_by/max_by state
    // inside the windowed agg — same daily integer-cent bars as the
    // batch operator (BIGINT-only cells, harness-canonicalizable)
    "q_stream_ohlc" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_ohlc")
      Streams.ohlcStream(s, d, ckpt, barSeconds = 86400L,
          valueExpr = (col("value").cast("decimal(18,2)") * 100)
            .cast("long"))
        .select(col("event_type"), col("bar_start"),
          col("open").as("open_c"), col("high").as("high_c"),
          col("low").as("low_c"), col("close").as("close_c"),
          col("n_ticks"), col("volume").cast("long").as("volume_c"))
    }),

    // the PRODUCTION ohlc path: update mode + snapshot-chain upsert —
    // the live watermark evicts closed bars from state; the final
    // table equals complete mode because each bar's last update wins
    "q_stream_ohlc_update" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_ohlc_u")
      val tbl = scratch(s, "graft_ohlc_tbl")
      Streams.ohlcStreamUpdate(s, d, ckpt, tbl, barSeconds = 86400L,
          valueExpr = (col("value").cast("decimal(18,2)") * 100)
            .cast("long"))
        .select(col("event_type"), col("bar_start"),
          col("open").as("open_c"), col("high").as("high_c"),
          col("low").as("low_c"), col("close").as("close_c"),
          col("n_ticks"), col("volume").cast("long").as("volume_c"))
    }),

    // stream → foreachBatch upsert → lake table: final table is the
    // latest event per user (ts in epoch micros for the cross-engine
    // compare; the upsert keeps the file's raw ts column, which is
    // nanos-as-long in the old testdata generation and TIMESTAMP_NTZ in
    // the current one — branch on what the table actually carries)
    "q_stream_upsert" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_up")
      val tbl = scratch(s, "graft_cdc_tbl")
      val res = Streams.upsertStreamToTable(s, d, ckpt, tbl,
        keys = Seq("user_id"), versionCol = "ts")
      val tsUs = res.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000")
        case _ => unix_micros(col("ts").cast("timestamp"))
      }
      res.select(col("user_id"), tsUs.as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
    }),

    "q_stream_dedup" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_dd")
      Streams.dedupStream(s, d, ckpt)
    }),

    // streaming LSH near-dup dedup: arriving docs (every 17th) probe
    // the STATIC banded index over the rest of the corpus, one keep/drop
    // decision per doc — decisions are batch-slicing-invariant, so the
    // oracle is the batch incremental pass folded to per-doc counts
    "q_stream_dedup_lsh" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_lsh")
      val out = scratch(s, "graft_lsh_dec") + "/decisions"
      Streams.lshDedupStream(s, d, ckpt, out,
        numPerms = 8, numBands = 4, threshold = 0.8)
    }),

    // ONLINE cluster maintenance: arrivals probe the LSH index, APPEND
    // their signatures (so cross-batch pairs are never lost), and fold
    // their new edges into the versioned labels snapshot via
    // incrementalComponents — the final snapshot must equal the
    // from-scratch full-corpus CC for ANY batch slicing
    "q_stream_cc_maintain" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_ccm")
      val store = scratch(s, "graft_cc_store")
      Streams.ccMaintainStream(s, d, ckpt, store,
        numPerms = 8, numBands = 4, threshold = 0.8,
        seedFrom = Some(ccStreamSeedDir(s, d)))
    }),

    // streaming EXACT-SUBSTRING maintenance: arrivals (every 17th doc)
    // patch the at-rest dup report by probing the gram index — the
    // corpus SA is never rebuilt, each batch appends its own grams so
    // later batches dedup against everything before them. Oracle =
    // the from-scratch gram-count dup report over corpus ∪ arrivals
    // (the full table); batch-slicing invariance is spec-pinned.
    "q_stream_sa_dup" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_sam")
      val store = scratch(s, "graft_sa_store")
      Streams.saMaintainStream(s, d, ckpt, store, minLen = 5,
          seedFrom = Some(saStreamSeedDir(s, d)))
        .orderBy("doc_id")
    }),

    // streaming IVF-assignment maintenance — the ANN member of the
    // at-rest index-maintenance trio (CC labels, SA dup report, vector
    // index): arrivals (every 9th vector, re-ingested under new ids)
    // are assigned against the snapshot's FROZEN centroid table and
    // appended to the assignment log; the corpus is never re-scanned,
    // the quantizer never retrained per batch. Frozen-quantizer
    // assignment is slicing-invariant, so the merged view equals the
    // one-shot batch assignment the oracle recomputes.
    "q_stream_ann_assign" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_annm")
      val store = scratch(s, "graft_ann_store")
      Streams.annMaintainStream(s, d, ckpt, store,
          seedFrom = Some(annStreamSeedDir(s, d)))
        .orderBy("vec_id")
    }),

    // UNIFIED ingest topology: ONE arrivals stream maintains the whole
    // at-rest index trio (CC labels, SA dup report, IVF assignment) in
    // the SAME foreachBatch — at every batch boundary the three
    // artifacts describe the same ingested prefix, the cross-index
    // consistency three separate streams cannot pin. One corpus/
    // arrival split (id % 17) across the trio. Output = one row per
    // document with all three index verdicts; the oracle recomputes
    // each from scratch (full-corpus CC, full-table dup report,
    // frozen-quantizer assignment) and joins them.
    "q_stream_ingest_trio" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_trio")
      val store = scratch(s, "graft_trio_store")
      Streams.ingestTrioStream(s, d, ckpt, store,
          numPerms = 8, numBands = 4, threshold = 0.8, minLen = 5,
          ccSeedFrom = Some(ccStreamSeedDir(s, d)),
          saSeedFrom = Some(saStreamSeedDir(s, d)),
          annSeedFrom = Some(annTrioSeedDir(s, d)))
        .orderBy("doc_id")
    }),

    // streaming heavy hitters: exact per-(day, type, user) counts
    // maintained incrementally, top-5 ranked at read time — ranking is
    // not incremental-safe, so the cut is a batch view over the
    // aggregate (the production split)
    "q_stream_topk" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_topk")
      Streams.topKStream(s, d, ckpt, k = 5)
        .select(to_date(col("day")).as("day"), col("event_type"),
          col("user_id"), col("cnt"))
    }),

    // validated ingest: per-ROW contract routing (known event type,
    // value in [0,400], non-null user) — published vs quarantined;
    // row-level gates are batch-slicing-invariant, so the end state
    // matches the plain batch filter the oracle runs
    "q_stream_validate" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_rv")
      val good = scratch(s, "graft_rv_good")
      val bad = scratch(s, "graft_rv_bad")
      Streams.routeValidated(s, d, ckpt, good, bad,
        col("event_type").isInCollection(
          Seq("click", "view", "purchase", "signup")) &&
          col("value") >= 0 && col("value") <= 400 &&
          col("user_id").isNotNull)
    }),

    "q_stream_enrich" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_en")
      Streams.enrichStream(s, d, ckpt)
    }),

    // ---- stream-static SCD2 enrichment -------------------------------------
    // each event joins the dimension VERSION valid at its event time
    // (weekly tier intervals, deterministic); equi-join + range filter —
    // stateless, dimension broadcast per micro-batch
    "q_stream_scd2" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_scd2en")
      val dim = s.range(150L * 5).select(
        (col("id") % 150).as("user_id"),
        (col("id") / 150).cast("int").as("k"))
        .select(col("user_id"),
          expr("timestamp(date_add(date '2024-01-01', k * 7))")
            .as("valid_from"),
          expr("timestamp(date_add(date '2024-01-01', (k + 1) * 7))")
            .as("valid_to"),
          ((col("user_id") + col("k")) % 3).cast("int").as("tier"))
      Streams.temporalEnrichStream(s, d, ckpt, dim, "user_id",
          "valid_from", "valid_to")
        .groupBy("tier")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum((col("value").cast("decimal(18,2)") * lit(100))
            .cast("long")).as("v_sum_c"))
        .orderBy("tier")
    }),

    // Spark 4 transformWithState sessionization (typed ValueState +
    // RocksDB, the post-fMGWS arbitrary-state API) — same oracle as the
    // batch q_sessionize, so the driver sees the new API path green
    "q_stream_sessionize_tws" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_tws")
      Streams.sessionizeStreamTws(s, d, ckpt, gapMinutes = 30)
        .select("user_id", "session_start", "n_events", "sum_value")
    }),

    // stream-stream interval join: click→purchase attribution within 6h
    "q_stream_join" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_sj")
      Streams.intervalJoinStreams(s, d, ckpt, "click", "purchase", 6)
    }),

    // LEFT OUTER stream-stream interval join: every click emits, matched
    // or null-padded — outer state flushed by a far-future punctuation
    // sentinel (see Streams.intervalJoinStreamsOuter)
    "q_stream_join_outer" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_sjo")
      Streams.intervalJoinStreamsOuter(s, d, ckpt, "click", "purchase", 6)
    }),

    // FULL OUTER stream-stream interval join: unmatched purchases also
    // emit, null-padded on the click side
    "q_stream_join_full" -> ((s, d) => {
      val ckpt = scratch(s, "graft_ckpt_sjf")
      Streams.intervalJoinStreamsOuter(s, d, ckpt, "click", "purchase", 6,
        joinType = "fullOuter")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // the streaming candles land on the same epoch-aligned daily bars
    // as the batch operator — identical oracle
    "q_stream_ohlc" ->
      """WITH t0 AS (
           SELECT event_type, event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v_c,
                  CAST(to_timestamp(CAST(floor(epoch(ts) / 86400)
                    AS BIGINT) * 86400) AS TIMESTAMP) AS bar_start
           FROM events),
         w AS (SELECT *,
                      row_number() OVER (PARTITION BY event_type,
                        bar_start ORDER BY ts, event_id) AS rn_a,
                      row_number() OVER (PARTITION BY event_type,
                        bar_start ORDER BY ts DESC, event_id DESC)
                        AS rn_d
               FROM t0)
         SELECT event_type, bar_start,
                CAST(MAX(CASE WHEN rn_a = 1 THEN v_c END) AS BIGINT)
                  AS open_c,
                CAST(MAX(v_c) AS BIGINT) AS high_c,
                CAST(MIN(v_c) AS BIGINT) AS low_c,
                CAST(MAX(CASE WHEN rn_d = 1 THEN v_c END) AS BIGINT)
                  AS close_c,
                COUNT(*) AS n_ticks,
                CAST(SUM(v_c) AS BIGINT) AS volume_c
         FROM w GROUP BY event_type, bar_start""",

    // update mode + upsert lands on the identical bar table (each
    // bar's last update wins) — same oracle as q_stream_ohlc
    "q_stream_ohlc_update" ->
      """WITH t0 AS (
           SELECT event_type, event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v_c,
                  CAST(to_timestamp(CAST(floor(epoch(ts) / 86400)
                    AS BIGINT) * 86400) AS TIMESTAMP) AS bar_start
           FROM events),
         w AS (SELECT *,
                      row_number() OVER (PARTITION BY event_type,
                        bar_start ORDER BY ts, event_id) AS rn_a,
                      row_number() OVER (PARTITION BY event_type,
                        bar_start ORDER BY ts DESC, event_id DESC)
                        AS rn_d
               FROM t0)
         SELECT event_type, bar_start,
                CAST(MAX(CASE WHEN rn_a = 1 THEN v_c END) AS BIGINT)
                  AS open_c,
                CAST(MAX(v_c) AS BIGINT) AS high_c,
                CAST(MIN(v_c) AS BIGINT) AS low_c,
                CAST(MAX(CASE WHEN rn_d = 1 THEN v_c END) AS BIGINT)
                  AS close_c,
                COUNT(*) AS n_ticks,
                CAST(SUM(v_c) AS BIGINT) AS volume_c
         FROM w GROUP BY event_type, bar_start""",

    // the streaming counts land on the same per-user step pairs as
    // the batch operator — identical oracle
    "q_stream_markov" ->
      """WITH s AS (
           SELECT user_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
           FROM events),
         pc AS (SELECT event_type AS from_type, nxt AS to_type,
                       COUNT(*) AS c
                FROM s WHERE nxt IS NOT NULL
                GROUP BY 1, 2),
         ft AS (SELECT from_type, SUM(c) AS tot FROM pc GROUP BY 1)
         SELECT pc.from_type, pc.to_type, pc.c,
                CAST((pc.c * 1000000) // ft.tot AS BIGINT) AS p_micro
         FROM pc JOIN ft USING (from_type)
         ORDER BY from_type, to_type""",

    // the micro-batched sketch merges to the batch sketch (additive
    // cells), so the estimates share q_cms_topk's oracle
    "q_stream_cms" ->
      """WITH keys AS (SELECT user_id, COUNT(*) AS true_c
                       FROM events GROUP BY 1),
         pairs AS (SELECT k.user_id, s.seed,
                          ('0x' || substr(md5(s.seed::VARCHAR || ':' ||
                            k.user_id::VARCHAR), 1, 8))::BIGINT % 256
                            AS bucket
                   FROM keys k, (SELECT unnest(range(4)) AS seed) s),
         cells AS (SELECT p.seed, p.bucket, SUM(k.true_c) AS c
                   FROM pairs p JOIN keys k USING (user_id)
                   GROUP BY 1, 2),
         est AS (SELECT p.user_id, MIN(c.c) AS est
                 FROM pairs p JOIN cells c USING (seed, bucket)
                 GROUP BY 1)
         SELECT e.user_id, CAST(e.est AS BIGINT) AS est, k.true_c
         FROM est e JOIN keys k USING (user_id)
         ORDER BY e.est DESC, e.user_id LIMIT 25""",

    // stream ≡ batch: the micro-batched bucket counts merge to the
    // whole-corpus sketch, so the batch bucket math is the oracle
    "q_stream_quantile" ->
      """WITH vals AS (
           SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS v
           FROM events),
         b AS (
           SELECT CASE WHEN length(bin(v)) - 6 > 0
                       THEN length(bin(v)) - 6 ELSE 0 END AS sh, v
           FROM vals),
         sk AS (
           SELECT (v >> sh) << sh AS bkt_lo,
                  ((v >> sh) << sh) + (1::BIGINT << sh) - 1 AS bkt_hi,
                  count(*)::BIGINT AS cnt
           FROM b GROUP BY 1, 2),
         cum AS (
           SELECT bkt_lo, bkt_hi,
                  sum(cnt) OVER (ORDER BY bkt_lo)::BIGINT AS cum
           FROM sk),
         n AS (SELECT sum(cnt)::BIGINT AS n FROM sk),
         probes AS (
           SELECT q_permille, n,
                  ((q_permille * n + 999) // 1000)::BIGINT AS target
           FROM (VALUES (500::BIGINT), (990::BIGINT)) q(q_permille), n)
         SELECT q_permille, n, min(bkt_lo)::BIGINT AS est_lo,
                arg_min(bkt_hi, bkt_lo)::BIGINT AS est_hi
         FROM probes JOIN cum ON cum >= target
         GROUP BY q_permille, n
         ORDER BY q_permille""",

    // from-scratch gram-count dup report over the FULL table — the
    // streamed corpus ∪ arrivals end state the maintenance loop must
    // converge to regardless of batch slicing
    "q_stream_sa_dup" ->
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
         cnt AS (SELECT gram, count(*) AS n FROM g GROUP BY gram),
         dup AS (
           SELECT doc_id, count(*)::BIGINT AS n_dup
           FROM g JOIN cnt USING (gram) WHERE n >= 2
           GROUP BY doc_id)
         SELECT t.doc_id, len(t.toks)::BIGINT AS n_positions,
                COALESCE(n_dup, 0)::BIGINT AS n_dup_positions
         FROM tok t LEFT JOIN dup USING (doc_id)
         ORDER BY doc_id""",

    // the online store's final snapshot ≡ the from-scratch full-corpus
    // CC (pair discovery is exactly-once: at the later endpoint's
    // batch through the grown index, or within-batch)
    "q_stream_cc_maintain" ->
      s"""WITH RECURSIVE $minhashPairCtes,
          edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                    UNION SELECT doc_b, doc_a FROM mh_pairs),
          reach(id, comp) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id)
          SELECT id AS doc_id, min(comp) AS comp,
                 (id = min(comp)) AS is_canonical
          FROM reach GROUP BY id""",

    // trio mirror: the three from-scratch computations — full-corpus
    // CC over the minhash near-dup graph, the full-table 5-gram dup
    // report (same tokenization CTE), and the frozen-quantizer
    // assignment over the % 17 split — joined on doc_id = vec_id
    "q_stream_ingest_trio" ->
      s"""WITH RECURSIVE $minhashPairCtes,
          edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                    UNION SELECT doc_b, doc_a FROM mh_pairs),
          reach(id, comp) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
          cmp AS (SELECT id AS doc_id, min(comp) AS comp
                  FROM reach GROUP BY id),
          pos AS (
            SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos,
                   tk
            FROM tk),
          g AS (
            SELECT doc_id, pos,
                   array_to_string(tk[pos:pos+4], ' ') AS gram
            FROM pos WHERE pos + 4 <= len(tk)),
          cnt AS (SELECT gram, count(*) AS n FROM g GROUP BY gram),
          dup AS (
            SELECT doc_id, count(*)::BIGINT AS n_dup
            FROM g JOIN cnt USING (gram) WHERE n >= 2
            GROUP BY doc_id),
          sa AS (
            SELECT t.doc_id, len(t.tk)::BIGINT AS n_positions,
                   COALESCE(n_dup, 0)::BIGINT AS n_dup_positions
            FROM tk t LEFT JOIN dup USING (doc_id)),
          v AS (SELECT vec_id, label,
                       list_transform(embedding, x -> x::DOUBLE) AS emb
                FROM embeddings),
          corp AS (SELECT * FROM v WHERE vec_id % 17 <> 0),
          cent AS (
            SELECT label AS cell, list(s ORDER BY j) AS c FROM (
              SELECT label, j, sum(emb[j]) / count(*) AS s
              FROM corp, range(1, 65) t(j) GROUP BY label, j)
            GROUP BY label),
          arr AS (SELECT vec_id, emb FROM v WHERE vec_id % 17 = 0),
          asg AS (
            SELECT vec_id, cell FROM (
              SELECT a.vec_id, cent.cell,
                     row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY -2 * list_dot_product(a.emb,
                           (cent.c::FLOAT[])::DOUBLE[])
                         + list_dot_product(
                             (cent.c::FLOAT[])::DOUBLE[],
                             (cent.c::FLOAT[])::DOUBLE[]),
                         cent.cell) AS pr
              FROM arr a CROSS JOIN cent)
            WHERE pr = 1),
          ann AS (SELECT vec_id, label AS cell FROM corp
                  UNION ALL SELECT vec_id, cell FROM asg)
          SELECT sa.doc_id, COALESCE(cmp.comp, sa.doc_id) AS comp,
                 sa.n_positions, sa.n_dup_positions, ann.cell
          FROM sa JOIN ann ON ann.vec_id = sa.doc_id
          LEFT JOIN cmp ON cmp.doc_id = sa.doc_id
          ORDER BY sa.doc_id""",

    // frozen-quantizer streamed assignment ≡ one-shot batch assignment
    // over corpus ∪ arrivals (centroids from the corpus slice only —
    // the snapshot the stream restores from)
    "q_stream_ann_assign" ->
      """WITH v AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         corp AS (SELECT * FROM v WHERE vec_id % 9 <> 0),
         cent AS (
           SELECT label AS cell, list(s ORDER BY j) AS c FROM (
             SELECT label, j, sum(emb[j]) / count(*) AS s
             FROM corp, range(1, 65) t(j) GROUP BY label, j)
           GROUP BY label),
         arr AS (SELECT vec_id + 200000 AS vec_id, emb
                 FROM v WHERE vec_id % 9 = 0),
         asg AS (
           SELECT vec_id, cell FROM (
             SELECT a.vec_id, cent.cell,
                    row_number() OVER (PARTITION BY a.vec_id
                      ORDER BY -2 * list_dot_product(a.emb,
                          (cent.c::FLOAT[])::DOUBLE[])
                        + list_dot_product(
                            (cent.c::FLOAT[])::DOUBLE[],
                            (cent.c::FLOAT[])::DOUBLE[]),
                        cent.cell) AS pr
             FROM arr a CROSS JOIN cent)
           WHERE pr = 1)
         SELECT vec_id, cell FROM (
           SELECT vec_id, label AS cell FROM corp
           UNION ALL SELECT vec_id, cell FROM asg)
         ORDER BY vec_id""",

    // session_window merges on strict overlap: a gap of exactly 30 min
    // starts a NEW session, hence >= in the islands rule (sessionizeBatch
    // uses > — both are valid semantics, pinned per operator)
    "q_session_window" ->
      """WITH g AS (
           SELECT user_id, ts, value, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               >= 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, value,
                  SUM(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_no
           FROM g)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM s GROUP BY user_id, session_no""",

    "q_sessionize" -> sessionizeOracle,

    // same sessions, computed by the transformWithState path — ONE
    // shared SQL constant, so the "same oracle" guarantee can't drift
    "q_stream_sessionize_tws" -> sessionizeOracle,

    "q_stream_daily_agg" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
                COUNT(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY 1, 2""",

    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // the stream's end-state counts equal the batch groupBy; the rank
    // cut uses the same (cnt DESC, user_id ASC) tie-break
    "q_stream_topk" ->
      """WITH c AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  event_type, user_id, COUNT(*) AS cnt
           FROM events GROUP BY 1, 2, 3)
         SELECT day, event_type, user_id, cnt FROM (
           SELECT day, event_type, user_id, cnt,
                  ROW_NUMBER() OVER (PARTITION BY day, event_type
                    ORDER BY cnt DESC, user_id) AS rn
           FROM c)
         WHERE rn <= 5""",

    // same minhash/band machinery as q_dedup_incremental, folded to the
    // per-arrival keep/drop decision the stream emits
    "q_stream_dedup_lsh" ->
      s"""WITH tk AS (
            SELECT doc_id,
                   string_split_regex(trim(regexp_replace(lower(text),
                     '[^a-z0-9\\s]+', ' ', 'g')), '\\s+') AS tk
            FROM documents),
          sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                     generate_series(1, len(tk) - 2),
                     i -> array_to_string(tk[i:i+2], ' '))) AS shset
            FROM tk),
          units AS (SELECT doc_id, unnest(shset) AS u FROM sh),
          vocab AS (SELECT DISTINCT u FROM units),
          vh AS (
            SELECT u, i AS perm, md5(i::VARCHAR || ':' || u) AS h
            FROM vocab CROSS JOIN range(8) r(i)),
          mh AS (
            SELECT doc_id, perm, min(h) AS mh
            FROM units JOIN vh USING (u)
            GROUP BY doc_id, perm),
          band AS (
            SELECT doc_id, (perm // 2)::INT AS band,
                   md5(string_agg(mh, ',' ORDER BY perm)) AS bucket
            FROM mh GROUP BY doc_id, perm // 2),
          cand AS (
            SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
            FROM band a JOIN band b
              ON a.band = b.band AND a.bucket = b.bucket
            WHERE a.doc_id % 17 = 0 AND b.doc_id % 17 <> 0),
          dup AS (
            SELECT new_id, count(*)::BIGINT AS n_dups
            FROM cand
            JOIN sh sa ON cand.new_id = sa.doc_id
            JOIN sh sb ON cand.corpus_id = sb.doc_id
            WHERE len(list_intersect(sa.shset, sb.shset))::DOUBLE /
                    len(list_distinct(list_concat(sa.shset, sb.shset)))
                    >= 0.8
            GROUP BY new_id)
          SELECT d.doc_id, dup.new_id IS NULL AS keep,
                 COALESCE(dup.n_dups, 0)::BIGINT AS n_dups
          FROM (SELECT doc_id FROM documents WHERE doc_id % 17 = 0) d
          LEFT JOIN dup ON d.doc_id = dup.new_id""",

    // latest-wins upsert ground truth: last event per user by ts
    // ((user_id, ts) is unique in the events table)
    "q_stream_upsert" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
                value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC) AS rn
               FROM events)
         WHERE rn = 1""",

    "q_stream_enrich" ->
      """SELECT event_id, event_type, n_name
         FROM events JOIN nation ON user_id % 25 = n_nationkey""",

    // the same weekly-tier dimension, batch-joined at event time
    "q_stream_scd2" ->
      """WITH dim AS (
           SELECT u.user_id, k.k,
                  (DATE '2024-01-01'
                    + CAST(k.k * 7 AS INT))::TIMESTAMP AS vf,
                  (DATE '2024-01-01'
                    + CAST((k.k + 1) * 7 AS INT))::TIMESTAMP AS vt,
                  CAST((u.user_id + k.k) % 3 AS INT) AS tier
           FROM (SELECT unnest(range(150)) AS user_id) u,
                (SELECT unnest(range(5)) AS k) k),
         j AS (SELECT d.tier, e.user_id,
                      CAST(CAST(e.value AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS v_c
               FROM events e JOIN dim d
                 ON e.user_id = d.user_id
                    AND e.ts >= d.vf AND e.ts < d.vt)
         SELECT tier, COUNT(*) AS n_events,
                COUNT(DISTINCT user_id) AS n_users,
                CAST(SUM(v_c) AS BIGINT) AS v_sum_c
         FROM j GROUP BY tier ORDER BY tier""",

    // per-row routing ≡ a batch filter: NULL-predicate rows quarantine
    // (CASE lands in ELSE), sums through decimal(18,2)
    "q_stream_validate" ->
      """WITH f AS (
           SELECT CASE WHEN event_type IN
                         ('click','view','purchase','signup')
                        AND value >= 0 AND value <= 400
                        AND user_id IS NOT NULL
                  THEN 'published' ELSE 'quarantined' END AS side, value
           FROM events)
         , agg AS (
           SELECT side, count(*)::BIGINT AS n_rows,
                  CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))),
                    0) AS DOUBLE) AS sum_value
           FROM f GROUP BY side)
         -- both sides ALWAYS appear (zero row if a class is empty),
         -- matching routeValidated's one-row-per-side contract
         SELECT s.side, COALESCE(n_rows, 0)::BIGINT AS n_rows,
                COALESCE(sum_value, 0.0) AS sum_value
         FROM (VALUES ('published'), ('quarantined')) s(side)
         LEFT JOIN agg ON agg.side = s.side""",

    "q_stream_join" ->
      """SELECT c.event_id AS left_id, p.event_id AS right_id,
                c.user_id,
                epoch_us(c.ts) AS left_us, epoch_us(p.ts) AS right_us,
                p.value
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR""",

    "q_stream_join_outer" ->
      """SELECT c.event_id AS left_id, p.event_id AS right_id,
                c.user_id,
                epoch_us(c.ts) AS left_us, epoch_us(p.ts) AS right_us,
                p.value
         FROM events c LEFT JOIN events p
           ON c.user_id = p.user_id
          AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
         WHERE c.event_type = 'click'""",

    "q_stream_join_full" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
            p AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'purchase')
         SELECT c.event_id AS left_id, p.event_id AS right_id,
                c.user_id AS user_id,
                epoch_us(c.ts) AS left_us, epoch_us(p.ts) AS right_us,
                p.value
         FROM c FULL JOIN p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR""",
  )
}
