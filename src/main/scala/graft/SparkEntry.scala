package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Joins, LatestPerGroup, MediaRecord, Multimodal, Pnl, Quantize, Retrieval, Similarity, Sma}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching DuckDB oracle in [[oracleSql]]
  * unless the operator is not SQL-expressible (then the driver records a
  * rows-only check). Determinism rules (FIXTURES.md §3): total ORDER BY with
  * unique tiebreakers; large double sums go through `CAST(expr AS
  * DECIMAL(18,6))` on BOTH sides (the double→decimal rounding is identical in
  * Spark and DuckDB, and decimal summation is exact, so hash comparison never
  * trips over float summation order); int-like computed columns are cast to
  * BIGINT on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** events with ts normalized to microsecond precision (Tables.events). */
  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Scratch roots this JVM created under java.io.tmpdir ([[rtDir]],
    * [[logRoot]]). They are keyed by the Spark application id, so no later
    * JVM reuses one: one shutdown hook deletes them all when this JVM exits.
    */
  private val scratchRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(scratchRoots.forEach(r => rmTree(new java.io.File(r))))

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Per-session-unique tmp dir for the q84/q90/q91 round-trip gates: keyed
    * by the Spark application id so two concurrent sessions benchmarking the
    * same fixture cannot overwrite each other's files mid-read; reps within
    * one session reuse the dir (mode overwrite). The dirs are small
    * (one table), land in java.io.tmpdir and go when the JVM exits.
    */
  private def rtDir(s: SparkSession, dir: String, codec: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_${codec}_" +
      s"${s.sparkContext.applicationId}_${new java.io.File(dir).getName}"
    scratchRoots.add(root)
    root
  }

  private val ntz: Column => Column = _.cast("timestamp_ntz")

  /** Session-scoped scratch TABLE ROOT for the TableLog gates (q211/q212)
    * — the [[rtDir]] convention plus a delete-at-start: each invocation
    * rebuilds the logged table from scratch (versions are always exactly
    * the gate's), and bench reps reuse ONE directory instead of accreting
    * a table-sized temp dir per rep.
    */
  private def logRoot(s: SparkSession, dir: String, tag: String): String = {
    val root = rtDir(s, dir, tag)
    rmTree(new java.io.File(root))
    new java.io.File(root).mkdirs()
    root
  }

  // ---------------------------------------------------------------------------
  // Shared DuckDB SQL fragments
  // ---------------------------------------------------------------------------

  /** The frozen events→market mapping (must mirror Pnl.eventsAsMarket). */
  private val M_CTE =
    """m AS (
      |  SELECT event_id AS seq, CAST(ts AS TIMESTAMP) AS ts,
      |         'H' || CAST(user_id % 4 AS VARCHAR) AS hub,
      |         CASE WHEN event_type = 'purchase' THEN 'trade' ELSE 'price' END AS kind,
      |         CASE WHEN event_type = 'purchase' THEN 'ACC' || CAST(user_id % 3 AS VARCHAR) ELSE '' END AS account,
      |         CASE WHEN event_type = 'purchase' THEN (CASE WHEN event_id % 2 = 0 THEN 'BUY' ELSE 'SELL' END) ELSE '' END AS side,
      |         CASE WHEN event_type = 'purchase' THEN [5,10,25,50][CAST(event_id % 4 AS INTEGER) + 1] ELSE 0 END AS mw,
      |         value AS price_mwh
      |  FROM events)""".stripMargin

  /** Shared DuckDB CTE chain (q62, q111): the EXACT all-pairs near-dup
    * graph at 3-token-shingle Jaccard ≥ 0.5 — the ground truth the LSH
    * plan's pair set hash-matches (q23's banding argument).
    */
  // `pairs` is the O(n²) exact shingle-Jaccard join — MATERIALIZED so
  // consumers referencing it more than once (q62's edge union, q111's
  // in/out-degree spellings) evaluate it exactly once; DuckDB would
  // otherwise inline a copy per reference (measured 3-4× oracle cost,
  // identical rows).
  private val NEARDUP_PAIRS_CTE =
    """tk AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
      |         ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
      |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
      |    END AS sh
      |  FROM tk),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE length(a.sh) > 0 AND length(b.sh) > 0
      |    AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5)""".stripMargin

  /** Shared DuckDB CTE (q199, q201): every doc's planted 64-bit dHash
    * pattern as two 32-bit halves (s1 = bits 0-31, s2 = bits 32-63 —
    * the q24 convention: a packed 64-bit value would need wrap-around
    * multiplies), mirroring Multimodal.dHashPatternOf's arithmetic: a
    * per-group-of-8 multiply-add base, m%4 bit flips at (m·13+j·17) mod 64.
    * The ENGINE never touches this arithmetic at query time — it recovers
    * the bits from decoded PNG pixels; only the fixture encoder and this
    * oracle share it, which is exactly what makes the gate bind the
    * decode+average path.
    */
  private val DHASH_SK_CTE =
    """pat AS (
      |  SELECT doc_id, doc_id // 8 AS g, doc_id % 8 AS m FROM documents),
      |hh AS (
      |  SELECT doc_id, m,
      |    (g * 2654435761 + 40503) % 4294967296 AS h1,
      |    (g * 2246822519 + 3266489917) % 4294967296 AS h2
      |  FROM pat),
      |fl AS (
      |  SELECT doc_id,
      |    coalesce(sum(CASE WHEN p < 32
      |      THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) END), 0) AS f1,
      |    coalesce(sum(CASE WHEN p >= 32
      |      THEN (CAST(1 AS BIGINT) << CAST(p - 32 AS INTEGER)) END), 0) AS f2
      |  FROM (SELECT hh.doc_id, ((m * 13 + r.j * 17) % 64) AS p
      |        FROM hh, range(0, 3) AS r(j) WHERE r.j < (m % 4)) fp
      |  GROUP BY doc_id),
      |sk AS (
      |  SELECT hh.doc_id,
      |    xor(h1, coalesce(f1, 0)) AS s1,
      |    xor(h2, coalesce(f2, 0)) AS s2
      |  FROM hh LEFT JOIN fl USING (doc_id))""".stripMargin

  /** Shared DuckDB CTE chain (q196, q207): the TTL ingest funnel's ground
    * truth — stage-1 survivors (flq), the deterministic re-emission
    * occurrence tape (base at 2r, id%5=0 in-window at 2r+1, id%10=0
    * far-regime at 3n+r; ttl = n//2 ticks), lag-window exact-dedup keepers,
    * and the later sides of exact-Jaccard ≥ 0.5 keeper pairs within the TTL
    * window (`pairs`). q196 subtracts `pairs` alone; q207 additionally
    * joins the keepers against DHASH_SK_CTE and subtracts the in-window
    * hamming ≤ 3 media pairs — ONE funnel arithmetic, stated once, so a
    * geometry fix can never diverge the two gates.
    */
  private val FUNNEL_TTL_CTE =
    """st AS (SELECT doc_id, text,
      |  CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
      |  CAST(length(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop,
      |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','and','of','is','to'], x))) AS BIGINT) AS en_hits,
      |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['el','la','de','que','y','los'], x))) AS BIGINT) AS es_hits,
      |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS de_hits
      |  FROM documents),
      |flq AS (SELECT doc_id, text FROM st
      |  WHERE (en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0)
      |    AND (n_tokens BETWEEN 5 AND 10000 AND
      |         (CASE WHEN n_tokens = 0 THEN 0.0
      |               ELSE CAST(n_stop AS DOUBLE) / n_tokens END) >= 0.01)),
      |pos AS (SELECT doc_id, text,
      |          CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r,
      |          (SELECT CAST(count(*) AS BIGINT) FROM flq) AS n
      |        FROM flq),
      |occ AS (SELECT doc_id, text, 2 * r AS t, n FROM pos
      |  UNION ALL SELECT doc_id, text, 2 * r + 1, n FROM pos WHERE doc_id % 5 = 0
      |  UNION ALL SELECT doc_id, text, 3 * n + r, n FROM pos WHERE doc_id % 10 = 0),
      |ek AS (SELECT doc_id, text, t, n,
      |         lag(t) OVER (PARTITION BY text ORDER BY t) AS prev
      |       FROM occ),
      |keep AS (SELECT doc_id, text, t, n FROM ek
      |         WHERE prev IS NULL OR t - prev > n // 2),
      |sh AS (SELECT doc_id, t, n,
      |  CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
      |       ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
      |              i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
      |  END AS sh
      |  FROM (SELECT doc_id, t, n,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |        FROM keep)),
      |pairs AS MATERIALIZED (
      |  SELECT b.t AS tb
      |  FROM sh a JOIN sh b ON a.t < b.t AND b.t - a.t <= a.n // 2
      |  WHERE length(a.sh) > 0 AND length(b.sh) > 0
      |    AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5)""".stripMargin

  /** Shared q208/q211 CDC fixture: every doc at seq 1 as the latest-state
    * base; updates = id%3 at seq 2, id%7 at seq 3 (keys in both take the
    * max), id%11 as brand-new inserted keys (offset far above any doc_id).
    */
  private def mergeFixture(docs: DataFrame): (DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id").as("k"), col("source"),
      col("n_chars").as("v"), lit(1L).as("seq"))
    val updates = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("k"), col("source"),
        (col("n_chars") + 1000L).as("v"), lit(2L).as("seq"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("k"), col("source"),
          (col("n_chars") + 7000L).as("v"), lit(3L).as("seq")))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000000L).as("k"), col("source"),
          col("n_chars").as("v"), lit(2L).as("seq")))
    (base, updates)
  }

  /** Shared DuckDB CTE chain (q208, q211): the CDC fixture's base, update
    * and union frames — must mirror [[mergeFixture]] column-for-column.
    */
  private val MERGE_CTE =
    """mbase AS (
      |  SELECT doc_id AS k, source, n_chars AS v, CAST(1 AS BIGINT) AS seq
      |  FROM documents),
      |mupd AS (
      |  SELECT doc_id AS k, source, n_chars + 1000 AS v,
      |         CAST(2 AS BIGINT) AS seq
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, source, n_chars + 7000, CAST(3 AS BIGINT)
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, source, n_chars, CAST(2 AS BIGINT)
      |  FROM documents WHERE doc_id % 11 = 0),
      |mu AS (SELECT * FROM mbase UNION ALL SELECT * FROM mupd)""".stripMargin

  /** Shared q103/q110 oracle: hourly OHLC+VWAP bars — struct arg-min/max
    * open/close, exact-decimal VWAP, full-outer reunion (the streaming twin
    * reaches the identical shape via conditional aggregation).
    */
  private val BARS_SQL =
    s"""WITH $M_CTE,
       |px AS (
       |  SELECT hub, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start_s,
       |         (min({'ts': ts, 'seq': seq, 'px': price_mwh})).px AS open,
       |         max(price_mwh) AS high, min(price_mwh) AS low,
       |         (max({'ts': ts, 'seq': seq, 'px': price_mwh})).px AS close,
       |         count(*) AS n_ticks
       |  FROM m WHERE kind = 'price' GROUP BY 1, 2),
       |tr AS (
       |  SELECT hub, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start_s,
       |         CAST(sum(CAST(price_mwh AS DECIMAL(18,6)) * mw) AS DOUBLE) / sum(mw) AS vwap,
       |         sum(mw) AS mw_total, count(*) AS n_trades
       |  FROM m WHERE kind = 'trade' GROUP BY 1, 2)
       |SELECT COALESCE(px.hub, tr.hub) AS hub,
       |       COALESCE(px.bucket_start_s, tr.bucket_start_s) AS bucket_start_s,
       |       open, high, low, close, n_ticks, vwap, mw_total, n_trades
       |FROM px FULL OUTER JOIN tr
       |  ON px.hub = tr.hub AND px.bucket_start_s = tr.bucket_start_s
       |ORDER BY 1, 2""".stripMargin

  /** Shared q109/q112 oracle: the SCD2 lag/lead interval chain over each
    * user's event_type stream.
    */
  private val SCD2_SQL =
    """WITH e AS (SELECT user_id AS key, event_type AS attr,
      |             CAST(ts AS TIMESTAMP) AS ts, event_id AS seq FROM events),
      |chg AS (
      |  SELECT * FROM (
      |    SELECT key, attr, ts, seq,
      |           lag(attr) OVER (PARTITION BY key ORDER BY ts, seq) AS prev
      |    FROM e) z
      |  WHERE prev IS NULL OR prev <> attr),
      |iv AS (
      |  SELECT key, attr, ts AS valid_from_ts, seq AS valid_from_seq,
      |         lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS valid_to_ts
      |  FROM chg)
      |SELECT key, attr, valid_from_ts, valid_from_seq, valid_to_ts,
      |       valid_to_ts IS NULL AS is_current
      |FROM iv ORDER BY key, valid_from_seq""".stripMargin

  /** Shared q104/q105 oracle: the per-hub EWMA recurrence replayed exactly,
    * CHUNKED so it terminates at sf0.1. The one-tick-per-round spelling
    * (frontier JOIN p each round) rescans the price table per tick —
    * quadratic, and it blew a 20-minute timeout at sf0.1. Here each
    * recursion round advances one 64-row chunk per hub: the chunk's per-row
    * EWMAs come from `list_reduce` over the chunk prefix seeded with the
    * carried boundary value, which executes the IDENTICAL sequence of
    * `0.25·p + 0.75·e` FP ops as Sma.ewmaStep's fold — 0.25/0.75 are exact
    * binary fractions, so every double matches the engine bit-for-bit
    * (verified 0-diff against a host-language replay). Cost is
    * rows·chunk/2 lambda steps — linear in rows, ~2 s per 20 k ticks.
    */
  // Recursion state is ONLY (hub, upto, evs, e0): the per-hub price/seq/ts
  // lists stay in the MATERIALIZED hp frame and are JOINED into each round
  // instead of being carried (and re-copied) through the recursive tuple —
  // measured 1.35× faster at sf0.1 (25.5 → 18.9 s), identical rows.
  private val EWMA_SQL =
    s"""WITH RECURSIVE ${M_CTE.replace("m AS (", "m AS MATERIALIZED (")},
       |p AS (
       |  SELECT hub, ts, seq, price_mwh,
       |         row_number() OVER (PARTITION BY hub ORDER BY ts, seq) AS rn
       |  FROM m WHERE kind = 'price'),
       |hp AS MATERIALIZED (
       |  SELECT hub, list(price_mwh ORDER BY rn) AS ps, list(seq ORDER BY rn) AS seqs,
       |         list(ts ORDER BY rn) AS tss, CAST(count(*) AS BIGINT) AS n
       |  FROM p GROUP BY hub),
       |r AS (
       |  SELECT hub, CAST(0 AS BIGINT) AS upto,
       |         CAST([] AS DOUBLE[]) AS evs, CAST(NULL AS DOUBLE) AS e0
       |  FROM hp
       |  UNION ALL
       |  SELECT r.hub, least(r.upto + 64, hp.n) AS upto,
       |         list_transform(range(1, CAST(least(r.upto + 64, hp.n) - r.upto AS INTEGER) + 1),
       |           i -> CASE WHEN r.upto = 0
       |                THEN list_reduce(list_slice(hp.ps, 1, i),
       |                       (e, pp) -> 0.25 * pp + 0.75 * e)
       |                ELSE list_reduce(
       |                       list_prepend(r.e0, list_slice(hp.ps, CAST(r.upto AS INTEGER) + 1, CAST(r.upto AS INTEGER) + i)),
       |                       (e, pp) -> 0.25 * pp + 0.75 * e) END) AS evs,
       |         CASE WHEN r.upto = 0
       |           THEN list_reduce(list_slice(hp.ps, 1, CAST(least(r.upto + 64, hp.n) AS INTEGER)),
       |                  (e, pp) -> 0.25 * pp + 0.75 * e)
       |           ELSE list_reduce(
       |                  list_prepend(r.e0, list_slice(hp.ps, CAST(r.upto AS INTEGER) + 1, CAST(least(r.upto + 64, hp.n) AS INTEGER))),
       |                  (e, pp) -> 0.25 * pp + 0.75 * e) END AS e0
       |  FROM r JOIN hp ON hp.hub = r.hub WHERE r.upto < hp.n),
       |sel AS (
       |  SELECT r.hub, r.upto, r.evs, hp.seqs, hp.tss, hp.ps, r.upto - length(r.evs) AS base
       |  FROM r JOIN hp ON hp.hub = r.hub WHERE length(r.evs) > 0)
       |SELECT
       |  unnest(list_slice(seqs, CAST(base AS INTEGER) + 1, CAST(upto AS INTEGER))) AS seq,
       |  unnest(list_slice(tss, CAST(base AS INTEGER) + 1, CAST(upto AS INTEGER))) AS ts,
       |  hub,
       |  unnest(list_slice(ps, CAST(base AS INTEGER) + 1, CAST(upto AS INTEGER))) AS price_mwh,
       |  unnest(evs) AS ewma
       |FROM sel ORDER BY seq""".stripMargin

  /** q144 oracle: the BPE merge loop UNROLLED — `n` CTE stages, each
    * recomputing adjacent-pair counts from the current symbol frame
    * (zipped-slice unnest), picking the (cnt desc, a, b) argmax, and
    * applying the merge greedily left-to-right via a `list_reduce` string
    * fold with explicit token-boundary checks (suffix = left symbol AND
    * the char before it is a space or start-of-string — no LIKE patterns).
    * All-integer/string arithmetic: nothing engine-version-sensitive.
    */
  /** The shared CTE chain (w0 … w`n`): `w$k` is the distinct-word frame
    * with symbols after k merges — BPE_SQL reads the merge rows, the
    * q147 encode oracle reads the final frame's symbol counts.
    */
  // Every stage MATERIALIZED: w$k is read by both p$k+1 and w$k+1 (and m$k
  // by w$k and the final select), so inlining re-derives the chain
  // multiplicatively — measured 75× the oracle cost at sf0.01 with
  // identical rows.
  private def BPE_CTES(n: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS MATERIALIZED (
        |  SELECT w AS word, CAST(count(*) AS BIGINT) AS c,
        |         list_transform(range(1, length(w) + 1),
        |           i -> substr(w, CAST(i AS INTEGER), 1)) AS syms
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |        FROM documents)
        |  GROUP BY w)""".stripMargin)
    for (k <- 1 to n) {
      sb.append(s""",
        |p$k AS MATERIALIZED (
        |  SELECT a, b, CAST(sum(c) AS BIGINT) AS cnt FROM (
        |    SELECT c,
        |      unnest(list_slice(syms, 1, length(syms) - 1)) AS a,
        |      unnest(list_slice(syms, 2, length(syms))) AS b
        |    FROM w${k - 1})
        |  GROUP BY a, b),
        |m$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
        |w$k AS MATERIALIZED (
        |  SELECT word, c,
        |    CASE WHEN m.a IS NULL THEN syms
        |         ELSE string_split(
        |           list_reduce(syms, (acc, y) ->
        |             CASE WHEN y = m.b
        |                       AND substr(acc, length(acc) - length(m.a) + 1) = m.a
        |                       AND (length(acc) = length(m.a)
        |                            OR substr(acc, length(acc) - length(m.a), 1) = ' ')
        |                  THEN left(acc, length(acc) - length(m.a)) || m.a || m.b
        |                  ELSE acc || ' ' || y END), ' ')
        |    END AS syms
        |  FROM w${k - 1} LEFT JOIN m$k m ON TRUE)""".stripMargin)
    }
    sb.toString
  }

  private def BPE_SQL(n: Int): String =
    BPE_CTES(n) + "\n" + (1 to n).map(k =>
        s"SELECT CAST($k AS INTEGER) AS step, a AS left_sym, b AS right_sym, cnt FROM m$k")
      .mkString("", "\nUNION ALL\n", "\nORDER BY step")

  /** q147 oracle: the trained w`n` frame IS the encoded vocabulary — join
    * each document's tokens back to its post-merge symbol count.
    */
  private def BPE_ENCODE_SQL(n: Int): String =
    BPE_CTES(n) + s""",
      |enc AS (SELECT word, CAST(length(syms) AS BIGINT) AS n_syms FROM w$n)
      |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |       CAST(sum(e.n_syms) AS BIGINT) AS n_syms
      |FROM (SELECT doc_id,
      |        unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |      FROM documents) d
      |JOIN enc e ON e.word = d.w
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Shared q119/q122 oracle: cents cast, trailing integer sums, the
    * multiplied-through 3σ test over full 20-tick windows per hub.
    */
  private val ANOMALY_SQL =
    s"""WITH $M_CTE,
       |p AS (SELECT hub, ts, seq, price_mwh,
       |        CAST(round(price_mwh * 100, 0) AS BIGINT) AS pc
       |      FROM m WHERE kind = 'price'),
       |w AS (SELECT hub, ts, seq, price_mwh, pc,
       |        CAST(count(*) OVER win AS BIGINT) AS n,
       |        CAST(sum(pc) OVER win AS BIGINT) AS s,
       |        CAST(sum(pc * pc) OVER win AS BIGINT) AS q
       |      FROM p WINDOW win AS (PARTITION BY hub ORDER BY ts, seq
       |        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT seq, ts, hub, price_mwh,
       |  (n - 1) * (n * pc - s) * (n * pc - s) AS dev2_scaled,
       |  9 * n * (n * q - s * s) AS thr_scaled
       |FROM w
       |WHERE n = 20
       |  AND (n - 1) * (n * pc - s) * (n * pc - s) > 9 * n * (n * q - s * s)
       |ORDER BY seq""".stripMargin

  /** Frozen events→DA/RT mapping (reference query surface R5/R6,
    * README.md:99-100): every 10th event is a day-ahead LMP print, every
    * event a real-time print (mirroring producer_da_rt.py's 10:1 cadence);
    * components are fixed linear functions of `value` so the DuckDB oracle
    * mirrors them bit-for-bit (sum order is left-assoc on both sides).
    */
  private def daOf(events: DataFrame): DataFrame =
    events.filter(col("event_id") % 10 === 0).select(
      col("event_id"), col("ts"),
      concat(lit("H"), (col("user_id") % 4).cast("string")).as("hub"),
      (col("value") + col("value") * lit(0.05) + col("value") * lit(0.01)).as("lmp_da"),
      col("value").as("energy_da"),
      (col("value") * lit(0.05)).as("congestion_da"),
      (col("value") * lit(0.01)).as("loss_da"))

  private def rtOf(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("ts"),
      concat(lit("H"), (col("user_id") % 4).cast("string")).as("hub"),
      (col("value") + col("value") * lit(0.15) + col("value") * lit(0.02)).as("lmp_rt"),
      col("value").as("energy_rt"),
      (col("value") * lit(0.15)).as("congestion_rt"),
      (col("value") * lit(0.02)).as("loss_rt"))

  /** DuckDB mirror of [[daOf]]/[[rtOf]]. */
  private val DA_RT_CTES =
    """da AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         'H' || CAST(user_id % 4 AS VARCHAR) AS hub,
      |         value + value * 0.05 + value * 0.01 AS lmp_da, value AS energy_da,
      |         value * 0.05 AS congestion_da, value * 0.01 AS loss_da
      |  FROM events WHERE event_id % 10 = 0),
      |rt AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         'H' || CAST(user_id % 4 AS VARCHAR) AS hub,
      |         value + value * 0.15 + value * 0.02 AS lmp_rt, value AS energy_rt,
      |         value * 0.15 AS congestion_rt, value * 0.02 AS loss_rt
      |  FROM events)""".stripMargin

  /** Signed trade quantity, as a SQL fragment over alias `t`. */
  private val SGN = "(CASE WHEN upper(t.side) = 'BUY' THEN t.mw ELSE -t.mw END)"

  /** Recursive-CTE replay of the PnL fold (oracle for q06/q07/q17): state
    * after each trade via WITH RECURSIVE; trade emissions join the fold state
    * at their own row number; price-tick emissions (mark-to-market sweep —
    * reference PnlAndExposureJob.java:134-137) join the fold state at the
    * last trade before the tick. Mirrors graft.operators.PnlKernel op-by-op
    * so doubles match bit-for-bit.
    */
  // m/t/p MATERIALIZED: the recursive fold `f` joins `t` once per trade
  // index, and an inlined `t` would re-run the full-events window chain
  // (m → m2 → t) on EVERY recursion round — measured 4.5× the oracle cost
  // at sf0.01 (and growing with depth), identical rows.
  private val PNL_CTES =
    s"""${M_CTE.replace("m AS (", "m AS MATERIALIZED (")},
       |m2 AS (
       |  SELECT *, last_value(CASE WHEN kind = 'price' THEN price_mwh END IGNORE NULLS)
       |         OVER (PARTITION BY hub ORDER BY ts, seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_price
       |  FROM m),
       |t AS MATERIALIZED (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY hub, account ORDER BY ts, seq) AS rn
       |  FROM m2 WHERE kind = 'trade'),
       |p AS MATERIALIZED (SELECT seq, ts, hub, price_mwh FROM m WHERE kind = 'price'),
       |f AS (
       |  SELECT hub, account, CAST(0 AS BIGINT) AS rn, 0 AS pos,
       |         CAST(0.0 AS DOUBLE) AS avg, CAST(0.0 AS DOUBLE) AS realized
       |  FROM (SELECT DISTINCT hub, account FROM t) base
       |  UNION ALL
       |  SELECT t.hub, t.account, t.rn,
       |    CASE WHEN f.pos = 0 OR (f.pos > 0) = ($SGN > 0) THEN f.pos + $SGN
       |         WHEN abs($SGN) <= abs(f.pos) THEN 0
       |         ELSE f.pos + $SGN END AS pos,
       |    CASE WHEN f.pos = 0 OR (f.pos > 0) = ($SGN > 0)
       |         THEN CASE WHEN f.pos + $SGN = 0 THEN 0.0
       |              ELSE (abs(f.pos) * f.avg + abs($SGN) * t.price_mwh) / abs(f.pos + $SGN) END
       |         WHEN abs($SGN) <= abs(f.pos) THEN 0.0
       |         ELSE t.price_mwh END AS avg,
       |    CASE WHEN f.pos = 0 OR (f.pos > 0) = ($SGN > 0) THEN f.realized
       |         ELSE f.realized + least(abs(f.pos), abs($SGN)) *
       |              (CASE WHEN f.pos > 0 THEN t.price_mwh - f.avg ELSE f.avg - t.price_mwh END)
       |    END AS realized
       |  FROM f JOIN t ON t.hub = f.hub AND t.account = f.account AND t.rn = f.rn + 1),
       |te AS (
       |  SELECT t.seq, t.ts, t.account, t.hub, f.pos AS position_mw, f.avg AS avg_price_mwh,
       |         COALESCE(t.prev_price, t.price_mwh) AS last_price_mwh, f.realized AS realized_pnl
       |  FROM t JOIN f ON f.hub = t.hub AND f.account = t.account AND f.rn = t.rn),
       |ps AS (
       |  SELECT p.seq AS pseq, tr.hub, tr.account, max(tr.rn) AS rn
       |  FROM p JOIN t tr ON tr.hub = p.hub AND (tr.ts < p.ts OR (tr.ts = p.ts AND tr.seq < p.seq))
       |  GROUP BY 1, 2, 3),
       |pe AS (
       |  SELECT p.seq, p.ts, s.account, s.hub, f.pos AS position_mw, f.avg AS avg_price_mwh,
       |         p.price_mwh AS last_price_mwh, f.realized AS realized_pnl
       |  FROM ps s JOIN p ON p.seq = s.pseq JOIN f ON f.hub = s.hub AND f.account = s.account AND f.rn = s.rn),
       |u AS (
       |  SELECT seq, ts, account, hub, position_mw, avg_price_mwh, last_price_mwh, realized_pnl,
       |         position_mw * (last_price_mwh - avg_price_mwh) AS unrealized_pnl,
       |         realized_pnl + position_mw * (last_price_mwh - avg_price_mwh) AS total_pnl
       |  FROM (SELECT * FROM te UNION ALL SELECT * FROM pe) raw)""".stripMargin

  /** Shared q06/q55 oracle: the PnL fold replayed (the streaming path must
    * reproduce the batch fold exactly).
    */
  private val PNL_REPLAY_SQL =
    s"""WITH RECURSIVE $PNL_CTES
      |SELECT * FROM u ORDER BY seq, account""".stripMargin

  /** Shared q16/q56 oracle: per-hub SMA5/SMA20 forecasts over the price ticks. */
  private val MARKET_SMA_SQL =
    s"""WITH $M_CTE
      |SELECT seq, ts, hub, price_mwh,
      |  avg(price_mwh) OVER w5 AS sma5, avg(price_mwh) OVER w20 AS sma20,
      |  avg(price_mwh) OVER w5 AS forecast_next
      |FROM m WHERE kind = 'price'
      |WINDOW
      |  w5 AS (PARTITION BY hub ORDER BY ts, seq ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      |  w20 AS (PARTITION BY hub ORDER BY ts, seq ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |ORDER BY seq""".stripMargin

  /** Shared q41/q76 oracle: the latest 3 events per user. */
  private val TOPK_PER_GROUP_SQL =
    """SELECT user_id, CAST(rn AS BIGINT) AS rn, ts, event_id, value FROM (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) x
      |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin

  /** Shared q176/q183 oracle: per event_type tick count, span and gaps
    * over 30 min.
    */
  private val TICK_GAPS_SQL =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS t, event_id FROM events),
      |g AS (
      |  SELECT event_type, t,
      |    t - lag(t) OVER (PARTITION BY event_type ORDER BY t, event_id) AS gap
      |  FROM e)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_ticks,
      |  CAST(max(t) - min(t) AS BIGINT) AS span_us,
      |  CAST(max(gap) AS BIGINT) AS max_gap_us,
      |  CAST(count(CASE WHEN gap > 1800000000 THEN 1 END) AS BIGINT) AS n_gaps_gt
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Shared q184/q186 oracle: per event_type peak-to-trough drawdown in
    * cents.
    */
  private val DRAWDOWN_SQL =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS t, event_id,
      |    CAST(floor(value * 100) AS BIGINT) AS c
      |  FROM events),
      |m AS (
      |  SELECT event_type, c,
      |    max(c) OVER (PARTITION BY event_type ORDER BY t, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS peak
      |  FROM e)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_ticks,
      |  CAST(max(c) AS BIGINT) AS max_cents,
      |  CAST(min(c) AS BIGINT) AS min_cents,
      |  CAST(max(peak - c) AS BIGINT) AS max_drawdown_cents
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Shared q199/q202/q203/q204/q210 oracle: planted-sketch pairs within
    * hamming distance 3.
    */
  private val MEDIA_PAIRS_SQL =
    s"""WITH $DHASH_SK_CTE
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) AS hamming
      |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared q213/q226/q233 oracle: the documents a n_chars-range delete keeps. */
  private val LOG_DELETE_SQL =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE n_chars IS NULL OR n_chars < 150 OR n_chars > 250
      |ORDER BY doc_id""".stripMargin

  /** Shared q222/q231 oracle: change-data-feed rows of the logged table. */
  private val LOG_CDF_ROWS_SQL =
    s"""WITH $MERGE_CTE,
      |merged AS (
      |  SELECT k, source, v, seq FROM mu
      |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1)
      |SELECT k, source, v, seq, 'insert' AS _change_type
      |FROM mupd WHERE k >= 10000000
      |UNION ALL
      |SELECT k, source, v, seq, 'update_preimage'
      |FROM mbase WHERE k % 3 = 0 OR k % 7 = 0
      |UNION ALL
      |SELECT k, source, v, seq, 'update_postimage'
      |FROM merged WHERE k < 10000000 AND (k % 3 = 0 OR k % 7 = 0)
      |ORDER BY k, _change_type""".stripMargin

  /** Shared q223/q228 oracle: the logged table's commit history. */
  private val LOG_HISTORY_SQL =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'overwrite', CAST(4 AS BIGINT),
      |   CAST(0 AS BIGINT), CAST(NULL AS BIGINT)),
      |  (2, 'append', 1, 0, 7),
      |  (3, 'delete', 1, 1, NULL),
      |  (4, 'compact', 0, 0, NULL))
      |  AS t(version, op, n_add, n_remove, epoch)
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------------------
  // Flagship
  // ---------------------------------------------------------------------------

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's forecast pipeline (SMA5/SMA20 per hub — ForecastsJob).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q16_market_forecasts")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // D1 — scan + projection (SURVEY §2.10)
    "q01_scan_project" -> ((s, d) =>
      ev(s, d).select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("event_id")).limit(100)),

    // D2 — filter pushdown + aggregate
    "q02_filter_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < to_timestamp(lit("1995-09-01 00:00:00"))
          && col("l_quantity") < 25)
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))),

    // D3 — sort + limit (reference query surface R1/R2, README.md:86-89)
    "q03_latest_events" -> ((s, d) =>
      ev(s, d).orderBy(col("ts").desc, col("event_id").desc).limit(50)
        .select(col("event_id"), ntz(col("ts")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))),

    // D4 — latest-per-group (Postgres DISTINCT ON — reference README.md:92)
    "q04_latest_per_group" -> ((s, d) =>
      LatestPerGroup.latest(ev(s, d), Seq(col("user_id")), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), ntz(col("ts")).as("ts"),
          col("event_type"), col("value"))
        .orderBy(col("user_id"))),

    // D5 — rows-window SMA over events (reference ForecastFunction shape)
    "q05_sma_forecast" -> ((s, d) =>
      Sma.withForecast(ev(s, d), col("user_id"), col("value"),
          Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("user_id"), col("value"),
          col("sma5"), col("sma20"), col("forecast_next"))
        .orderBy(col("event_id"))),

    // D6 — the PnL stateful fold (reference PnlCalculator, SURVEY §2.5)
    "q06_pnl_replay" -> ((s, d) => {
      import s.implicits._
      Pnl.replay(Pnl.eventsAsMarket(ev(s, d)))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("account"), col("hub"),
          col("position_mw"), col("avg_price_mwh"), col("last_price_mwh"),
          col("realized_pnl"), col("unrealized_pnl"), col("total_pnl"))
        .orderBy(col("seq"), col("account"))
    }),

    // D7 — exposure projection chained on the fold (reference P4)
    "q07_exposure" -> ((s, d) => {
      import s.implicits._
      Pnl.exposure(Pnl.replay(Pnl.eventsAsMarket(ev(s, d))))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("account"), col("hub"),
          col("position_mw"), col("last_price_mwh"), col("pnl01"), col("notional_usd"))
        .orderBy(col("seq"), col("account"))
    }),

    // D8 — hash aggregation, TPC-H Q1 shape
    "q08_agg_tpch_q1" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("sum_base"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
          sum(((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * (lit(1.0) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // D9 — equi-join + aggregate (broadcast-able dim side)
    "q09_join_agg" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total_price"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("c_mktsegment"))),

    // D10 — semi join (EXISTS)
    "q10_semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // D10b — anti join (NOT EXISTS). Filtered to big-ticket orders so the
    // result is non-empty at every sf (every fixture customer has *some*
    // order — an unfiltered anti join is vacuously empty and proves nothing).
    "q11_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // D11 — set operations (distinct semantics, like SQL)
    "q12_setops" -> ((s, d) => {
      val e = ev(s, d)
      val clicks = e.filter(col("event_type") === "click").select(col("user_id"))
      val purchases = e.filter(col("event_type") === "purchase").select(col("user_id"))
      clicks.intersect(purchases).withColumn("op", lit("both"))
        .unionByName(clicks.except(purchases).withColumn("op", lit("click_only")))
        .unionByName(clicks.union(purchases).distinct().withColumn("op", lit("either")))
        .select(col("op"), col("user_id"))
        .orderBy(col("op"), col("user_id"))
    }),

    // D12 — scalar function library (string/date/math)
    "q13_scalar_funcs" -> ((s, d) =>
      ev(s, d).select(
          col("event_id"),
          upper(col("event_type")).as("type_upper"),
          substring(col("event_type"), 1, 3).as("type_pre"),
          concat(col("event_type"), lit("_"), col("user_id").cast("string")).as("tag"),
          ntz(date_trunc("day", col("ts"))).as("day"),
          hour(col("ts")).cast("long").as("hr"),
          floor(col("value")).cast("long").as("flr"),
          ceil(col("value")).cast("long").as("cl"),
          abs(col("value") - lit(100.0)).as("dist"))
        .orderBy(col("event_id")).limit(200)),

    // D13 — tumbling time window (native window(); bucket key exported as
    // epoch seconds so the oracle can align exactly)
    "q14_time_window" -> ((s, d) =>
      ev(s, d)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
        .select(unix_timestamp(col("window.start")).as("bucket_start_s"),
          col("event_type"), col("n"), col("avg_value"))
        .orderBy(col("bucket_start_s"), col("event_type"))),

    // D14 — exact distinct aggregation
    "q15_distinct_agg" -> ((s, d) =>
      ev(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // Reference forecast pipeline on the mapped market stream (SURVEY §2.4)
    "q16_market_forecasts" -> ((s, d) => {
      import s.implicits._
      val prices = Pnl.eventsAsMarket(ev(s, d)).filter(_.kind == "price").toDF()
      Sma.withForecast(prices, col("hub"), col("price_mwh"), Seq(col("ts"), col("seq")))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("hub"), col("price_mwh"),
          col("sma5"), col("sma20"), col("forecast_next"))
        .orderBy(col("seq"))
    }),

    // Reference R3 — latest position per (account, hub) over the fold output
    "q17_latest_positions" -> ((s, d) => {
      import s.implicits._
      LatestPerGroup.latest(
          Pnl.replay(Pnl.eventsAsMarket(ev(s, d))).toDF(),
          Seq(col("account"), col("hub")), Seq(col("seq")))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("account"), col("hub"),
          col("position_mw"), col("avg_price_mwh"), col("last_price_mwh"),
          col("realized_pnl"), col("unrealized_pnl"), col("total_pnl"))
        .orderBy(col("account"), col("hub"))
    }),

    // Reference R4 — latest exposure per (account, hub) over the exposure
    // projection (README.md:95-96): DISTINCT ON applied to the derived
    // pnl01/notional stream, completing the exposure-side query surface
    "q42_latest_exposure" -> ((s, d) => {
      import s.implicits._
      LatestPerGroup.latest(
          Pnl.exposure(Pnl.replay(Pnl.eventsAsMarket(ev(s, d)))).toDF(),
          Seq(col("account"), col("hub")), Seq(col("seq")))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("account"), col("hub"),
          col("position_mw"), col("last_price_mwh"), col("pnl01"), col("notional_usd"))
        .orderBy(col("account"), col("hub"))
    }),

    // Text analysis — token counts + quality scoring (pipeline ops)
    "q18_text_stats" -> ((s, d) =>
      t(s, d, "documents").select(
          col("doc_id"),
          expr("CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)").as("n_tokens"),
          expr("CAST(size(filter(split(text, ' '), x -> array_contains(array('the','a','of','and','to','in','is'), x))) AS BIGINT)").as("n_stop"),
          expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").as("n_nospace"))
        .withColumn("stop_ratio",
          when(col("n_tokens") === 0, lit(0.0))
            .otherwise(col("n_stop").cast("double") / col("n_tokens")))
        .withColumn("avg_token_len",
          when(col("n_tokens") === 0, lit(0.0))
            .otherwise(col("n_nospace").cast("double") / col("n_tokens")))
        .withColumn("quality",
          (col("n_tokens") >= 5 && col("n_tokens") <= 10000 && col("stop_ratio") >= 0.01)
            .cast("long"))
        .orderBy(col("doc_id"))),

    // Text analysis — BPE-ish regex token counting (letter runs, digit
    // runs, single punctuation — the GPT-2 pretokenizer's coarse shape);
    // integer counts → bit-reproducible oracle. Java and RE2 regex agree on
    // this ASCII-class pattern by construction.
    "q32_bpe_tokens" -> ((s, d) =>
      t(s, d, "documents").select(
          col("doc_id"),
          expr(raw"""CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS BIGINT)""").as("n_bpe"),
          expr(raw"""CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)""").as("n_word"),
          expr(raw"""CAST(size(regexp_extract_all(text, '[0-9]+', 0)) AS BIGINT)""").as("n_num"),
          expr(raw"""CAST(size(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)) AS BIGINT)""").as("n_punct"))
        .orderBy(col("doc_id"))),

    // Text analysis — stopword-hit language ID heuristic
    "q19_lang_id" -> ((s, d) =>
      t(s, d, "documents").select(
          col("doc_id"),
          expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('the','and','of','is','to'), x))) AS BIGINT)").as("en_hits"),
          expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('el','la','de','que','y','los'), x))) AS BIGINT)").as("es_hits"),
          expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('der','die','das','und','ist'), x))) AS BIGINT)").as("de_hits"))
        .withColumn("lang_pred",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits")
            && col("en_hits") > 0, lit("en"))
            .when(col("es_hits") >= col("de_hits") && col("es_hits") > 0, lit("es"))
            .when(col("de_hits") > 0, lit("de"))
            .otherwise(lit("und")))
        .orderBy(col("doc_id"))),

    // Exact deduplication — canonical id per identical text. Dedup.exact
    // groups on the 48-byte (xxhash64, length, sha2-256) content fingerprint
    // so the exchange carries fingerprints, never documents
    "q20_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("canonical_id"))),

    // Document fingerprint — polynomial rolling hash over chars (native
    // expression graft.functions.PolyFingerprint; 0 = no char limit)
    "q21_doc_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(
          col("doc_id"),
          call_function("graft_fp", col("text"), lit(0)).as("fp"))
        .orderBy(col("doc_id"))),

    // Brute-force cosine top-k (ANN baseline) over the embeddings table —
    // the operator path: broadcast query side + native graft_dot inside
    // whole-stage codegen (the interpreted HOF fold dominated the bench)
    "q22_cosine_knn" -> ((s, d) =>
      Similarity.bruteForceKnn(t(s, d, "embeddings"), col("vec_id") < 5, k = 10)
        .orderBy(col("qid"), col("rn"))),

    // MinHash + LSH near-dup pairs, exact-verified (Dedup.minhashNearDups):
    // banding proposes candidates, exact shingle Jaccard confirms. With
    // r=2/b=64 the per-pair miss probability at J=0.5 is (1−0.25)⁶⁴ ≈ 1e-8,
    // so the result hash-matches the exact all-pairs DuckDB oracle — an LSH
    // plan with an exact gate. (The unverified est-jaccard variant stays as
    // Dedup.minhashLsh, unit-tested in DedupSpec.)
    "q23_minhash_lsh" -> ((s, d) =>
      Dedup.minhashNearDups(t(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // SimHash near-dup pairs — hash-gated: the sketch uses the PORTABLE
    // token-hash family (two prime-mod polynomial rolls + one multiply-add
    // scramble, GraftFunctions.portableTokenHash), so the DuckDB oracle
    // recomputes the identical 64-bit sketches and the exact pair set.
    // The pigeonhole blocking (4x16-bit chunks) guarantees no false
    // negatives at hamming <= 3, so blocked Spark == all-pairs oracle.
    "q24_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // Exact n-gram Jaccard over source-blocked pairs (integer set sizes →
    // bit-reproducible oracle)
    "q25_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), col("doc_id"), col("text"),
          col("source"), shingleN = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Embedding cosine near-dup pairs (exact, oracle-checked)
    "q26_cosine_dups" -> ((s, d) =>
      Similarity.cosineDupPairs(t(s, d, "embeddings"), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // LSH-bucketed approximate KNN (rows-only; recall@10 ≥ 0.6 vs brute
    // force is asserted in SimilaritySpec "lshKnn recall floor")
    "q27_lsh_knn" -> ((s, d) =>
      Similarity.lshKnn(t(s, d, "embeddings"), col("vec_id") < 5, k = 10)
        .orderBy(col("qid"), col("rn"))),

    // IVF coarse-quantizer approximate KNN — the inverted-file scale path
    // (rows-only; recall@10 >= 0.9 on clustered data + bit-identical scores
    // asserted in SimilaritySpec)
    "q33_ivf_knn" -> ((s, d) =>
      Similarity.ivfKnn(t(s, d, "embeddings"), col("vec_id") < 5, k = 10)
        .orderBy(col("qid"), col("rn"))),

    // LSH-blocked approximate cosine dup pairs — the 100 TB alternative to
    // exact q26 (rows-only; subset-of-exact with bit-identical scores +
    // recall floor asserted in SimilaritySpec)
    "q29_cosine_dups_lsh" -> ((s, d) =>
      Similarity.cosineDupPairsLsh(t(s, d, "embeddings"), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // R5/R6 — "DA vs RT last values" (reference README.md:99-100): latest-8
    // over each LMP table, tagged and unioned
    "q30_da_rt_latest" -> ((s, d) => {
      val e = ev(s, d)
      def top8(df: DataFrame, src: String, pre: String) =
        df.orderBy(col("ts").desc, col("event_id").desc).limit(8)
          .select(lit(src).as("src"), col("event_id"), ntz(col("ts")).as("ts"),
            col("hub"), col(s"lmp_$pre").as("lmp"), col(s"energy_$pre").as("energy"),
            col(s"congestion_$pre").as("congestion"), col(s"loss_$pre").as("loss"))
      top8(daOf(e), "da", "da").unionByName(top8(rtOf(e), "rt", "rt"))
        .orderBy(col("src"), col("ts").desc, col("event_id").desc)
    }),

    // DA-vs-RT comparison: latest print per hub on each side, joined on hub
    // (4-row broadcast join) with the basis spread
    "q31_da_rt_spread" -> ((s, d) => {
      val e = ev(s, d)
      val dal = LatestPerGroup.latest(daOf(e), Seq(col("hub")), Seq(col("ts"), col("event_id")))
        .select(col("hub"), col("lmp_da"))
      val rtl = LatestPerGroup.latest(rtOf(e), Seq(col("hub")), Seq(col("ts"), col("event_id")))
        .select(col("hub"), col("lmp_rt"))
      dal.join(rtl, "hub")
        .select(col("hub"), col("lmp_da"), col("lmp_rt"),
          (col("lmp_rt") - col("lmp_da")).as("spread"))
        .orderBy(col("hub"))
    }),

    // Multimodal plumbing: opaque binary payloads through the typed
    // feature-extraction path. Payloads here are utf-8 bytes of the fixture
    // text — no recognized container — so Multimodal.decodeOne exercises its
    // documented deterministic FALLBACK (real PNG/WAV/MP4 parses are gated
    // by q129/q143/q145); the oracle predicts the fallback arithmetic.
    "q28_media_features" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(
          col("doc_id").as("media_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
          encode(col("text"), "UTF-8").as("bytes"),
          map().cast("map<string,string>").as("meta"))
        .as[MediaRecord]
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"), col("n_bytes"), col("head_hash"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("duration_ms"))
        .orderBy(col("media_id"))
    }),

    // REAL image decode round-trip (Multimodal.decodeImageDims, JDK
    // javax.imageio — no new dependency): the engine PNG-encodes a w×h
    // image per doc with dims derived arithmetically from doc_id, then the
    // decode path recovers width/height from the actual IHDR chunk. The
    // oracle predicts the same dims from doc_id — if decode were fake, the
    // recovered dims could not match. Header-only reads: O(header) per
    // asset, the only decode shape that survives 100 TB of media.
    "q129_image_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          MediaRecord(id, "image",
            Multimodal.encodePng(w, h, (id * 2654435761L).toInt), Map.empty)
        }
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy(col("media_id"))
    }),

    // REAL image resize round-trip (Multimodal.resize real path): encode a
    // per-doc PNG, bilinear-resize to 20x14 via Graphics2D, decode the
    // RESIZED payload's IHDR — every row must come back (20, 14). If the
    // resize silently fell to the stub byte-downsample, the output would
    // not be a decodable PNG and the stub dims would disagree, so the
    // constant oracle genuinely gates decode→scale→re-encode.
    "q130_image_resize" -> ((s, d) => {
      import s.implicits._
      // every 5th doc: full ImageIO decode→scale→re-encode is real codec
      // work (~1 ms/image) and the round-trip gate is equally binding on a
      // 20% sample — the remaining 80% would re-prove the same kernel
      val media = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = 8 + (id % 32).toInt
          val h = 8 + ((id / 32) % 32).toInt
          MediaRecord(id, "image",
            Multimodal.encodePng(w, h, (id * 2654435761L).toInt), Map.empty)
        }
      Multimodal.extractFeatures(Multimodal.resize(media, 20, 14))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy(col("media_id"))
    }),

    // REAL audio metadata round-trip (Multimodal.decodeWavMeta, manual
    // RIFF chunk walk — pure JDK, header-only): the engine synthesizes a
    // 16-bit PCM WAV per doc with sample rate / channels / frame count
    // derived arithmetically from doc_id (plus a junk LIST chunk so a
    // fixed-offset reader would fail), then the decode path recovers the
    // parameters from the actual fmt/data chunk headers. The oracle
    // predicts the same values from doc_id — if the parse were fake, the
    // recovered parameters could not match. duration_ms is truncating
    // integer division on both sides (no doubles in a hashed column).
    "q143_audio_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val sr = Array(8000, 16000, 22050, 44100)((id % 4).toInt)
          val ch = 1 + ((id / 4) % 2).toInt
          val n = 400 + (id % 50).toInt * 7
          MediaRecord(id, "audio",
            Multimodal.encodeWav(sr, ch, n, (id * 40503L).toInt), Map.empty)
        }
      Multimodal.audioMeta(media).orderBy(col("media_id"))
    }),

    // REAL video metadata round-trip (Multimodal.decodeMp4Meta, manual
    // ISO-BMFF box walk — pure JDK, header-only): the engine synthesizes a
    // minimal MP4 per doc with timescale / duration / dimensions / frame
    // count derived arithmetically from doc_id (junk `free` boxes
    // interleaved so a fixed-offset reader fails; stts split into two runs
    // so frame count proves run summation), then the decode path recovers
    // the parameters from the actual mvhd/tkhd/stts boxes. The oracle
    // predicts the same values from doc_id — if the parse were fake, the
    // recovered parameters could not match. duration_ms is truncating
    // integer division on both sides (no doubles in a hashed column).
    "q145_video_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val ts = Array(600, 1000, 12288, 90000)((id % 4).toInt)
          val dur = 1000L + (id % 77) * 13
          val w = 16 * (1 + (id % 120).toInt)
          val h = 16 * (1 + ((id / 3) % 68).toInt)
          val nf = 24L + (id % 97) * 3
          MediaRecord(id, "video",
            Multimodal.encodeMp4(ts, dur, w, h, nf, (id * 48611L).toInt), Map.empty)
        }
      Multimodal.videoMeta(media).orderBy(col("media_id"))
    }),

    // REAL frame sampling over the same synthesized MP4s: every 10th frame
    // index with its presentation time reconstructed from the two stts runs
    // (run 1: ceil(n/2) frames at delta 100; run 2: the rest at delta 120).
    // Frame payloads are never materialized — at 100 TB the sampled (id,
    // frame_idx, pts) triple is what feeds downstream decoders, which seek
    // by pts. The oracle replays the same run arithmetic per doc_id.
    "q146_frame_sample" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val ts = Array(600, 1000, 12288, 90000)((id % 4).toInt)
          val dur = 1000L + (id % 77) * 13
          val w = 16 * (1 + (id % 120).toInt)
          val h = 16 * (1 + ((id / 3) % 68).toInt)
          val nf = 24L + (id % 97) * 3
          MediaRecord(id, "video",
            Multimodal.encodeMp4(ts, dur, w, h, nf, (id * 48611L).toInt), Map.empty)
        }
      Multimodal.sampleFramesMp4(media, everyNthFrame = 10)
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // §2.7 extension — generic as-of join (the reference's trade → latest
    // price lookup, PnlAndExposureJob.java:134-137, as a standalone
    // operator): tagged union + one window pass, one shuffle, no range join
    "q34_asof_join" -> ((s, d) => {
      val m = Pnl.eventsAsMarket(ev(s, d)).toDF()
      val trades = m.filter(col("kind") === "trade")
        .select(col("seq"), col("ts"), col("hub"), col("account"), col("side"),
          col("mw"), col("price_mwh"))
      val prices = m.filter(col("kind") === "price")
        .select(col("hub"), col("ts"), col("seq"), col("price_mwh"))
      Joins.asOfJoin(trades, prices, keys = Seq("hub"), orderCols = Seq("ts", "seq"),
          rightVals = Map("price_mwh" -> "last_px", "seq" -> "last_px_seq"))
        .orderBy(col("seq"))
    }),

    // The forward as-of direction: each trade's NEXT price tick per hub
    // (the slippage-estimation lookup) — same one-exchange tagged-union
    // window plan as q34, scanning the order descending.
    "q87_asof_forward" -> ((s, d) => {
      val m = Pnl.eventsAsMarket(ev(s, d)).toDF()
      val trades = m.filter(col("kind") === "trade")
        .select(col("seq"), col("ts"), col("hub"), col("account"), col("side"),
          col("mw"), col("price_mwh"))
      val prices = m.filter(col("kind") === "price")
        .select(col("hub"), col("ts"), col("seq"), col("price_mwh"))
      Joins.asOfJoin(trades, prices, keys = Seq("hub"), orderCols = Seq("ts", "seq"),
          rightVals = Map("price_mwh" -> "next_px", "seq" -> "next_px_seq"),
          direction = "forward")
        .orderBy(col("seq"))
    }),

    // Skew-salted equi-join (Joins.saltedJoin): event_type has 5 values —
    // the classic hot-key shape where a plain shuffle join lands each
    // type's whole volume on one reducer. The dim side (per-type counts)
    // replicates ×8; facts spread by a deterministic hash salt; result
    // hash-matches the plain join.
    "q88_salted_join" -> ((s, d) => {
      val e = ev(s, d)
      val dim = e.groupBy(col("event_type")).agg(count(lit(1)).as("type_n"))
      Joins.saltedJoin(e.select(col("event_id"), col("event_type"), col("value")),
          dim, keys = Seq("event_type"), salts = 8, saltBy = col("event_id"))
        .select(col("event_id"), col("event_type"), col("value"), col("type_n"))
        .orderBy(col("event_id"))
    }),

    // Skew-ADAPTIVE join (Joins.skewAwareJoin): the composed decision
    // pipeline q181 (skew audit) and q88 (salted join) are the pieces of —
    // measure the fact key's skew, derive the salt count from it
    // (ceil(max_count / mean_count), clamped to [1, 64]), then execute the
    // salted join. Fixture key is DELIBERATELY skewed: event_id % 10 < 9
    // collapses 90% of rows onto key 0 (the remaining 10% spread over
    // {9,19,...,99}), so the rule derives salts = 10 here, and the oracle
    // recomputes both the decision (integer arithmetic) and the join rows.
    "q194_skew_adaptive_join" -> ((s, d) => {
      val f = ev(s, d).select(col("event_id"), col("value"),
        when(col("event_id") % 10 < 9, lit(0L))
          .otherwise(col("event_id") % 100).as("k"))
      val dim = f.groupBy(col("k")).agg(count(lit(1)).as("k_n"))
      Joins.skewAwareJoin(f, dim, keys = Seq("k"), saltBy = col("event_id"),
          auditCol = Some("salts"))
        .select(col("event_id"), col("k"), col("value"), col("k_n"),
          col("salts"))
        .orderBy(col("event_id"))
    }),

    // Full global sort (no limit): RangePartitioning end-to-end — sampled
    // split points, range exchange, per-partition sort — the plan behind
    // every ORDER BY-writes-a-table job (q03's TakeOrdered only covers the
    // top-k form). Double sort key with a unique integer tiebreaker.
    "q89_global_sort" -> ((s, d) =>
      ev(s, d).select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("value"), col("event_id"))),

    // §2.7 extension — session window (30-min gap) per user; sum goes
    // through DECIMAL so both engines add exactly
    "q35_session_window" -> ((s, d) =>
      ev(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("session_window.start")).as("sess_start_s"),
          unix_timestamp(col("session_window.end")).as("sess_end_s"),
          col("user_id"), col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("sess_start_s"))),

    // §2.7 extension — ROLLUP grouping sets over the TPC-H Q1 keys
    "q36_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // §2.7 extension — CUBE grouping sets (all four combinations of the
    // two keys, vs ROLLUP's prefix hierarchy in q36)
    "q43_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // §2.7 extension — sliding (hopping) time window: 10-min windows every
    // 5 min, so each event lands in exactly two buckets
    "q37_sliding_window" -> ((s, d) =>
      ev(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("bucket_start_s"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("bucket_start_s"), col("event_type"))),

    // §2.7 extension — range join (point-in-interval) reduced to an
    // equi-join on interval buckets, never a BroadcastNestedLoopJoin
    "q38_range_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq(("small", 0.0, 10.0), ("mid", 10.0, 25.0),
        ("large", 25.0, 40.0), ("xl", 40.0, 55.0)).toDF("band", "lo", "hi")
      Joins.rangeJoinBucketed(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          "l_quantity", bands, "lo", "hi", bucketWidth = 5.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("band"))
    }),

    // §2.7 extension — exact interpolated percentiles (both engines use
    // lower + (upper-lower)·frac over the sorted values). Computed by the
    // scale-safe two-pass operator: Spark's built-in `percentile` buffers
    // every group value in one agg buffer (~n/3 doubles per executor at
    // this query's 3-value key — OOM at 100×); Percentiles.exact brackets
    // with a bounded percentile_approx sketch and selects the exact order
    // statistics from the in-bracket sliver, bit-identical to the built-in
    // (PercentilesSpec).
    "q39_percentiles" -> ((s, d) =>
      graft.operators.Percentiles.exact(t(s, d, "lineitem"),
          col("l_returnflag"), col("l_extendedprice"),
          Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))
        .select(col("g").as("l_returnflag"), col("p25"), col("p50"), col("p90"))
        .orderBy(col("l_returnflag"))),

    // approx_count_distinct (HLL++) gated against the exact count: the raw
    // sketch estimate is engine-specific by design (not hash-matchable), so
    // the query exports the exact count plus a ≤5%-relative-error boolean
    // and the oracle asserts it true — a drifting sketch turns the gate red
    // instead of hiding behind a rows-only check. (Same bound asserted in
    // JoinsSpec.)
    // rsd 0.01 (not the 0.05 default): the gate below asserts ≤5% relative
    // error, and a sketch whose own standard deviation IS 5% trips it
    // legitimately (observed at sf0.1) — the gate needs a sketch a few
    // sigma tighter than the bound it enforces.
    // The two aggregates run as separate plans joined on the 5-row key:
    // fused, Spark's distinct-rewrite builds the 2^14-register HLL partial
    // per (event_type, user_id) PRE-group — ~1.6k longs × every distinct
    // user through the exchange (~100 MB at sf0.1, and growing with
    // corpus) — instead of one sketch per output group
    "q40_approx_distinct" -> ((s, d) => {
      val e = ev(s, d)
      val approx = e.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      val exact = e.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (abs(col("approx_users") - col("n_users")) <= col("n_users") * 0.05)
            .as("approx_ok"))
        .orderBy(col("event_type"))
    }),

    // Normalize-then-dedup (pipeline op): unicode-simple canonical form —
    // lowercase, strip non-alphanumerics, squeeze whitespace — then exact
    // dedup over the normalized text. Catches near-dups that differ only in
    // case/punctuation, the cheapest rung on the dedup ladder before
    // MinHash. ASCII regex classes keep Java and RE2 semantics identical.
    "q45_normalized_dedup" -> ((s, d) =>
      Dedup.exact(
        t(s, d, "documents").select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
            " +", " ")).as("norm")),
        col("doc_id"), col("norm"))
        .orderBy(col("canonical_id"))),

    // Approximate quantiles, rank-gated (the 100 TB sketch path beside
    // exact q39). The sketch value is engine-specific, so the gate is
    // rank-based: the approx p50 must land between the exact p40 and p60 —
    // at accuracy 10000 the rank error is 0.01%, so the boolean cannot
    // flap while a broken sketch trips it. The exact side runs through
    // Percentiles.exact too, so NO declared query buffers a full group in
    // an aggregation buffer anymore.
    "q46_approx_quantile" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val exact = graft.operators.Percentiles.exact(li,
          col("l_returnflag"), col("l_extendedprice"),
          Seq(("p40", 0.4), ("p50", 0.5), ("p60", 0.6)))
        .select(col("g").as("l_returnflag"), col("p40"), col("p50"), col("p60"))
      val approx = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("ap"))
      exact.join(approx, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50").as("p50_exact"),
          (col("ap") >= col("p40") && col("ap") <= col("p60")).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Analytic window-function family (lag/lead/rank/dense_rank/cume_dist)
    // over one WindowExec pass — the OLAP surface beyond plain row_number
    "q47_window_funcs" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, d).select(
          col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          rank().over(Window.partitionBy(col("user_id"))
            .orderBy(col("event_type"))).as("type_rank"),
          dense_rank().over(Window.partitionBy(col("user_id"))
            .orderBy(col("event_type"))).as("type_dense_rank"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("event_id"))
    }),

    // Pivot (wide aggregation): one column per event_type, per-user sums.
    // Explicit pivot values keep the schema static (no distinct-scan at
    // plan time — the dynamic form runs an extra job and breaks pure
    // declarative planning at scale); sums ride through DECIMAL so both
    // engines add exactly
    "q48_pivot" -> ((s, d) =>
      ev(s, d).groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double"))
        .orderBy(col("user_id"))),

    // Unpivot / melt (long normalization of wide columns)
    "q49_unpivot" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))),

    // Statistical aggregate family (Welford-merged moments): results are
    // rounded to 3dp on both sides — the merge tree differs between
    // engines, so the last float bits legitimately disagree while anything
    // a user reads must not. (skewness is excluded: Spark computes the
    // population form, DuckDB the sample form — not comparable.)
    "q50_stats_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("l_extendedprice")), 3).as("avg_price"),
          round(stddev_samp(col("l_extendedprice")), 3).as("sd_price"),
          round(var_samp(col("l_quantity")), 3).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 3).as("cov_qp"))
        .orderBy(col("l_returnflag"))),

    // Full outer join (both-side null preservation; sort order pins NULLS
    // FIRST explicitly — Spark and DuckDB default opposite ways)
    "q51_full_outer" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))),

    // Semi-structured extraction: the JSON `props` column parsed in-query
    // (get_json_object is codegen'd; no ETL round trip), aggregated per
    // type — the schema-on-read path every event pipeline needs
    "q52_json_extract" -> ((s, d) =>
      ev(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          count(when(col("k") > 50, 1)).as("n_k_gt50"))
        .orderBy(col("event_type"))),

    // Vocabulary building (pipeline op): corpus-wide token frequencies,
    // top-100 — the explode + count every tokenizer-training pipeline
    // runs. Partial aggregation combines map-side, so the shuffle carries
    // one row per distinct token per partition, and TakeOrdered replaces a
    // global sort; ties break on the token for determinism
    "q53_vocab" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(100)),

    // SQL entry path: the one declared query that goes through
    // spark.sql's parser/analyzer instead of the DataFrame API — a
    // correlated-shape scalar subquery (big spenders vs 2× the mean
    // per-customer order total). Every other query proves the DataFrame
    // surface; this one proves a pure-SQL user gets the same engine.
    "q54_sql_subquery" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "customer").createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT c_custkey, c_name, total
        FROM (SELECT c_custkey, c_name,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
              FROM v_customer JOIN v_orders ON o_custkey = c_custkey
              GROUP BY c_custkey, c_name) t
        WHERE total > 2 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                                  / count(DISTINCT o_custkey)
                           FROM v_orders)
        ORDER BY c_custkey""")
    }),

    // ANN quality gate — the approximate similarity paths (q27/q29/q33)
    // stay rows-only by nature (bucketing follows the engine's hash family),
    // so this query turns their quality contracts into an oracle-checkable
    // result: each metric is a boolean floor computed against the exact
    // counterpart inside one plan, and the oracle asserts all-true. Floors
    // sit below the `Probe recall` figures at sf0.001/0.01/0.1: lsh_knn
    // 0.84/0.96/0.96 (floor 0.6), ivf 0.44/0.36/0.54 on the isotropic
    // fixture (floor 0.25), lsh dup recall 0.92/0.97/0.84 (floor 0.7). A
    // recall regression past the floor turns the round red; the spread
    // across scales does not.
    "q44_ann_quality" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val bf = Similarity.bruteForceKnn(e, col("vec_id") < 5, k = 10)
        .select(col("qid"), col("vec_id"))
      // numerator and denominator from ONE left join per metric — the
      // semi-join + crossJoin'd-count form evaluated the expensive brute
      // force / exact-pairs subplans twice per metric
      def knnRecall(name: String, approx: DataFrame, floor: Double): DataFrame =
        bf.join(approx.select(col("qid"), col("vec_id")).withColumn("hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .agg(count(lit(1)).as("t"), count(col("hit")).as("h"))
          .select(lit(name).as("metric"), (col("h") >= col("t") * floor).as("ok"))
      val exactP = Similarity.cosineDupPairs(e, threshold = 0.4)
        .select(col("id_a"), col("id_b"), col("score"))
      val lshP = Similarity.cosineDupPairsLsh(e, threshold = 0.4)
        .select(col("id_a"), col("id_b"), col("score").as("score_lsh"))
      // one full-outer join carries both dup metrics: recall (exact pairs
      // recovered by LSH) and the subset property (every LSH pair exists in
      // the exact result with a bit-identical score — LSH blocks, exact
      // verify scores)
      val dup = exactP.join(lshP, Seq("id_a", "id_b"), "full_outer")
      val dupRecall = dup.agg(
          count(col("score")).as("t"),
          count(when(col("score").isNotNull && col("score_lsh").isNotNull, 1)).as("h"))
        .select(lit("lsh_dup_recall").as("metric"), (col("h") >= col("t") * 0.7).as("ok"))
      val dupSubset = dup.agg(
          count(when(col("score_lsh").isNotNull &&
            (col("score").isNull || col("score") =!= col("score_lsh")), 1)).as("bad"))
        .select(lit("lsh_dup_scores_subset").as("metric"), (col("bad") === 0).as("ok"))
      knnRecall("lsh_knn_recall10", Similarity.lshKnn(e, col("vec_id") < 5, k = 10), 0.6)
        .unionByName(knnRecall("ivf_knn_recall10",
          Similarity.ivfKnn(e, col("vec_id") < 5, k = 10), 0.25))
        .unionByName(dupRecall)
        .unionByName(dupSubset)
        .orderBy(col("metric"))
    }),

    // Streaming execution in the driver's gate: the q06 tape replayed in 8
    // ordered micro-batches through the REAL flatMapGroupsWithState PnL
    // operator (StreamingOps.pnlStream — the reference's primary execution
    // mode, PnlAndExposureJob.java:29-78), sink hash-checked against the
    // same recursive-CTE oracle as the batch fold. State carries across
    // micro-batch boundaries; a streaming-only regression now turns the
    // round red instead of hiding behind green batch plans.
    "q55_streaming_pnl" -> ((s, d) => {
      import s.implicits._
      val tape = Pnl.eventsAsMarket(ev(s, d)).collect().toSeq
        .sortBy(e => (e.ts.getTime, e.seq))
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(
          graft.streaming.StreamingOps.pnlStream(_))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("account"), col("hub"),
          col("position_mw"), col("avg_price_mwh"), col("last_price_mwh"),
          col("realized_pnl"), col("unrealized_pnl"), col("total_pnl"))
        .orderBy(col("seq"), col("account"))
    }),

    // Streaming SMA5/SMA20 forecast in the gate (reference ForecastsJob):
    // price ticks replayed through StreamingOps.forecastStream, checked
    // against the q16 window oracle — streaming ≡ batch for the second
    // stateful operator family.
    "q56_streaming_sma" -> ((s, d) => {
      import s.implicits._
      val tape = Pnl.eventsAsMarket(ev(s, d)).filter(_.kind == "price").collect()
        .toSeq.sortBy(e => (e.ts.getTime, e.seq))
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(
          graft.streaming.StreamingOps.forecastStream(_))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("hub"), col("price_mwh"),
          col("sma5"), col("sma20"), col("forecast_next"))
        .orderBy(col("seq"))
    }),

    // SimHash quality gate — q24's pair set is hash-gated (portable sketch
    // family), but that only proves the sketch is computed as specified;
    // this query gates whether the sketch is any GOOD, the same way q44
    // gates the ANN paths: recall against the exact-verified near-dup truth
    // (q23's J ≥ 0.9 pairs — near-identical docs must collide within
    // hamming ≤ 3) plus a non-emptiness floor. Measured recall at
    // sf0.001/0.01/0.1 is 0.70/0.72/0.71 with the portable token-hash
    // family (Scratch probe, r6; the xxhash family scored 0.78/0.60/0.76);
    // the 0.3 floor keeps >2× margin so a silent sketch regression turns
    // the round red while fixture variance cannot.
    "q57_simhash_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sp = Dedup.simhashPairs(docs, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b"))
      val high = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .filter(col("jaccard") >= 0.9).select(col("doc_a"), col("doc_b"))
      // numerator and denominator from ONE left join — a semi-join +
      // crossJoin'd count would evaluate the expensive minhash subplan twice
      val recall = high.join(sp.withColumn("hit", lit(1)),
          Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("t"), count(col("hit")).as("h"))
        .select(lit("simhash_recall_j09").as("metric"),
          (col("h") >= col("t") * 0.3).as("ok"))
      val nonempty = sp.agg((count(lit(1)) >= 1).as("ok"))
        .select(lit("simhash_nonempty").as("metric"), col("ok"))
      nonempty.unionByName(recall).orderBy(col("metric"))
    }),

    // Benchmark decontamination (pipeline op): eval docs (doc_id % 10 = 0)
    // scored by the fraction of their distinct 3-gram shingles found
    // anywhere in the train split — inverted-index containment on hashed
    // shingle keys, never doc×doc (Corpus.decontaminate)
    "q58_decontaminate" -> ((s, d) =>
      Corpus.decontaminate(t(s, d, "documents"), col("doc_id"), col("text"),
          evalPred = col("doc_id") % 10 === 0)
        .orderBy(col("doc_id"))),

    // Deterministic stratified sampling (pipeline op): per-source keep rates
    // applied via a portable multiplicative hash of doc_id, so the selected
    // set is reproducible in ANY engine (the DuckDB oracle computes the
    // same hash) — rand()-based sampling can never be gated like this
    "q59_hash_sample" -> ((s, d) => {
      import s.implicits._
      val rates = (0 until 20)
        .map(i => (s"src$i", Seq(0.2, 0.5, 0.8)(i % 3))).toDF("stratum", "rate")
      Corpus.hashSample(t(s, d, "documents"), col("doc_id"), col("source"), rates)
        .select(col("id").as("doc_id"), col("stratum").as("source"), col("h"))
        .orderBy(col("doc_id"))
    }),

    // Repetition/diversity quality signals (pipeline op): type-token ratio
    // + top-bigram fraction per doc — the Gopher-style screens for
    // machine-generated/boilerplate text; all integer-derived, so the
    // divisions are bit-reproducible in the oracle
    "q60_repetition_stats" -> ((s, d) =>
      Corpus.repetitionStats(t(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    // K-means assignment step over embeddings (the clustering pass IVF
    // builds on, as a first-class op): nearest centroid by squared L2 via
    // the dot-product identity |a−c|² = a·a − 2a·c + c·c (graft_dot is
    // codegen'd and bit-identical to DuckDB's list_dot_product — proven by
    // q22/q26 score matches), per-cluster counts + exact inertia through
    // DECIMAL. Centroids = vectors 0..3 (deterministic, broadcast); ties
    // break on the lower centroid id via lexicographic struct min.
    "q61_kmeans_assign" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val dist2 = (Similarity.dot(col("v"), col("v"))
        - lit(2.0) * Similarity.dot(col("v"), col("cv"))) +
        Similarity.dot(col("cv"), col("cv"))
      val assigned = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), struct(dist2.as("d"), col("cid")).as("dc"))
        .groupBy(col("vec_id"))
        .agg(min(col("dc")).as("best"))
        .select(col("vec_id"), col("best.cid").as("cluster"), col("best.d").as("dist2"))
      assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(col("dist2").cast("decimal(28,6)")).cast("double").as("inertia"))
        .orderBy(col("cluster"))
    }),

    // Near-dup CLUSTERS (pipeline op): minhash-LSH candidate pairs closed
    // under transitivity — connected components via log-round min-label
    // propagation with pointer jumping — then every doc mapped to its
    // component's canonical min id plus the keep flag a pipeline filters on.
    // The oracle recomputes components from the exact all-pairs near-dup
    // graph with a recursive CTE, so both the pair generation AND the
    // clustering are hash-gated.
    "q62_dup_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
      Dedup.dupGroups(docs, col("doc_id"), pairs).orderBy(col("doc_id"))
    }),

    // Quality-policy dedup (Dedup.dupGroupsBest): each near-dup cluster
    // keeps its LONGEST member (ties -> min id) instead of the min-id one —
    // the keep rule real training-data dedup applies. Both the clustering
    // AND the per-component argmax are hash-gated: the oracle recomputes
    // components from the exact all-pairs graph (q62's recursive CTE) and
    // the canonical via the same (quality desc, id asc) ranking.
    "q99_dup_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
      Dedup.dupGroupsBest(docs, col("doc_id"),
          length(col("text")).cast("long"), pairs)
        .orderBy(col("doc_id"))
    }),

    // Mergeable distinct-count sketches (Spark's DataSketches HLL builtins
    // — hll_sketch_agg / hll_union_agg): the incremental-distinct pattern a
    // sharded 100 TB corpus needs (per-shard sketches built independently,
    // merged without recount — KBs per sketch regardless of cardinality).
    // Booleans: the merged per-source estimate within 5% of exact distinct,
    // merge-invariance (union of per-source sketches == one global sketch,
    // identical estimate), non-emptiness.
    "q98_hll_incremental_distinct" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("source"), explode(graft.functions.Text.tokens(col("text"))).as("term"))
      val perSource = toks.groupBy(col("source"))
        .agg(hll_sketch_agg(col("term"), lit(12)).as("sk"))
      val merged = perSource
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      val global = toks
        .agg(hll_sketch_estimate(hll_sketch_agg(col("term"), lit(12))).as("est_global"))
      val exact = toks.agg(countDistinct(col("term")).as("exact"))
      merged.crossJoin(global).crossJoin(exact)
        .select(explode(array(
          struct(lit("hll_error_ok").as("metric"),
            (abs(col("est_merged") - col("exact")) <= col("exact") * 0.05).as("ok")),
          struct(lit("hll_merge_invariant").as("metric"),
            (col("est_merged") === col("est_global")).as("ok")),
          struct(lit("hll_nonempty").as("metric"), (col("exact") > 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // The composed curation pipeline (Pipeline.curate): lang-id → quality
    // → exact dedup → near-dup keep-best → benchmark decontamination as
    // ONE plan, doc_id % 10 = 0 as the held-out benchmark split. Every
    // stage flag (NULL = eliminated before the stage ran) plus the final
    // kept bit is hash-gated against a full SQL re-derivation — the
    // whole-funnel integration gate over the library's gated primitives.
    "q100_curation_pipeline" -> ((s, d) =>
      operators.Pipeline.curate(t(s, d, "documents"), col("doc_id"),
          col("text"), benchPred = col("doc_id") % 10 === 0)
        .orderBy(col("doc_id"))),

    // The curation funnel AT INGEST (CurationStream.replayFunnel): every
    // q100 stage re-expressed as a streaming operator and replayed
    // job-per-stage over the frozen corpus tape — stateless stage-1 flags
    // INSIDE the stream, exact first-seen dedup state, the band-index +
    // stream-static-verify near-dup stage, and the stream-static benchmark
    // decontam semi-join. Near-dup policy is FIRST-OCCURRENCE-WINS (an
    // ingest filter cannot retract an admitted doc), which is why this has
    // its own real SQL oracle (doc NOT the later side of any verified
    // pair) instead of q100's keep-best recursion.
    "q195_streaming_curation" -> ((s, d) =>
      graft.streaming.CurationStream.replayFunnel(s, t(s, d, "documents"),
          col("doc_id"), col("text"), benchPred = col("doc_id") % 10 === 0)
        .orderBy(col("doc_id"))),

    // Hashed-embedding near-dup pairs (Corpus.hashedEmbedding +
    // graft_doti): raw text → dim-64 integer bag-of-words vector via the
    // portable token hash (ONE scan-side kernel, no vocabulary, no
    // exchange — featurization as a pure map), then source-blocked pairs
    // at cosine ≥ 0.9 decided by the EXACT integer predicate
    // num > 0 ∧ 100·num² ≥ 81·n2_a·n2_b (num = ⟨v_a,v_b⟩, graft_doti;
    // exact while 100·num² < 2⁶³ i.e. num ≤ ~9.6e8 — Spark wraps BIGINT
    // silently where DuckDB errors, see Corpus.hashedEmbedding's
    // overflow-bound note; fixture token mass is ~5 orders below it) —
    // τ = 0.9 because hashed BoW cosines of same-register prose cluster
    // near 0.5-0.7 (measured: 45% of within-source pairs pass τ=0.5; 54
    // pass τ=0.9 at sf0.001 — the actual near-dup mass). The sixth
    // near-dup modality, and the one needing no pre-supplied embedding
    // column. Gate-scale pair search is source-blocked brute
    // force (the q25/q26 convention); at 100 TB the same vectors feed the
    // ANN family (ivfPqKnn/cosineDupPairs) unchanged.
    "q197_hashed_embedding_dups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val e = Corpus.hashedEmbedding(docs, col("doc_id"), col("text"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val a = e.select(col("source"), col("doc_id").as("doc_a"),
        col("vec").as("va"), col("n2").as("n2_a"))
      val b = e.select(col("source"), col("doc_id").as("doc_b"),
        col("vec").as("vb"), col("n2").as("n2_b"))
      a.join(b, Seq("source")).filter(col("doc_a") < col("doc_b"))
        .withColumn("num", call_function("graft_doti", col("va"), col("vb")))
        .filter(col("num") > 0 &&
          lit(100L) * col("num") * col("num") >=
            lit(81L) * col("n2_a") * col("n2_b"))
        .select(col("doc_a"), col("doc_b"), col("num"),
          col("n2_a"), col("n2_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Text-to-kNN retrieval with NO embedding column (Corpus.hashedKnn):
    // hashedEmbedding composed with the bounded graft_topk machinery —
    // queries broadcast, corpus never shuffles, ranking by the
    // engine-portable score num²/n2 (one BIGINT product, one double
    // division; ties by doc id). The oracle recomputes every hashed count,
    // every integer dot, and the identical rank order.
    "q198_hashed_text_knn" -> ((s, d) =>
      Corpus.hashedKnn(t(s, d, "documents"), col("doc_id"), col("text"),
          queryPred = col("doc_id") < 5, k = 10)
        .orderBy(col("qid"), col("rn"))),

    // The BOUNDED-STATE ingest funnel (CurationStream.replayFunnelTtl):
    // q195 with both content-growing state ops swapped for their rate×TTL
    // variants (q193's sliding exact-dedup window + q192's TTL band index
    // with a stream-static exact verify) — the state shape a 100 TB/day
    // ingest deploys. One row per ADMITTED occurrence (doc_id, tick);
    // content re-admitted after a TTL of silence appears twice, which IS
    // the contract the TTL exists for. The oracle is plain SQL: lag-window
    // keepers minus later sides of exact-Jaccard pairs within Δt ≤ ttl.
    "q196_streaming_curation_ttl" -> ((s, d) =>
      graft.streaming.CurationStream.replayFunnelTtl(s, t(s, d, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"), col("tick"))),

    // Perceptual near-dup for IMAGES — the media face of the dedup family
    // (Multimodal.imageDHash + Dedup.hamming64Pairs): per doc a REAL PNG
    // whose pixels encode a planted 64-bit pattern (grid gray levels walk
    // ±8 following the bits, zero-sum dither inside each block), the
    // engine re-derives the sketch from the DECODED PIXELS (full ImageIO
    // decode + integer box-average — a header read or sampled pixel could
    // not reproduce the bits), and pairs at hamming ≤ 3 come from the
    // 4×16-bit pigeonhole-blocked join, which at ≤ 3 provably equals the
    // all-pairs answer the DuckDB oracle computes from the same pattern
    // arithmetic. Block scale varies 1-3× by doc so the box-average path
    // is exercised across dims; groups of 8 docs share a base pattern with
    // 0-3 planted bit flips (pairs at hamming 0-3 inside a group, ~32
    // across groups).
    "q199_image_phash_pairs" -> ((s, d) => {
      import s.implicits._
      val sk = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val png = Multimodal.encodeDHashPng(
            Multimodal.dHashPatternOf(id), cell = 1 + (id % 3).toInt)
          (id, Multimodal.imageDHash(png).get)
        }
        .toDF("doc_id", "sk")
      Dedup.hamming64Pairs(sk, maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Perceptual near-dup for AUDIO (Multimodal.audioDHash — the
    // chromaprint-family shape: sign of the energy gradient across 65 time
    // windows of the REAL decoded PCM samples, all-integer, cross-
    // multiplied window comparison): the fixture WAV walks its window
    // AMPLITUDE ±200 following the same planted 64-bit pattern as q199's
    // images (zero-sum ±1 magnitude dither in sign-alternating pairs, so
    // only a decoder that actually sums real samples reproduces the bits;
    // junk LIST chunk defeats fixed-offset readers), and the pair search is
    // the same pigeonhole hamming join — the third media type through one
    // sketch kernel. Window width varies 4/6/8 frames by doc so the
    // integer window partition is exercised across lengths.
    "q202_audio_fingerprint_pairs" -> ((s, d) => {
      import s.implicits._
      val sk = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val wav = Multimodal.encodeEnergyWav(
            Multimodal.dHashPatternOf(id),
            framesPerWin = 4 + (id % 3).toInt * 2)
          (id, Multimodal.audioDHash(wav).get)
        }
        .toDF("doc_id", "sk")
      Dedup.hamming64Pairs(sk, maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Perceptual near-dup for VIDEO (Multimodal.videoTimingHash — the
    // third member of the media-sketch triad): 64 bits of presentation-
    // cadence gradient signs from the REAL stts run expansion of a parsed
    // MP4, O(header) per asset — the mdat payload is never read, so at
    // 100 TB this dedup signal costs metadata only. Fixture MP4s walk
    // their per-frame duration ±50 units following the SAME planted
    // pattern as q199/q202 (65 one-frame stts runs, junk free boxes
    // defeating fixed offsets); same pigeonhole hamming join; one oracle,
    // three completely different engine decode paths (pixels, PCM, boxes).
    "q203_video_fingerprint_pairs" -> ((s, d) => {
      import s.implicits._
      val sk = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val mp4 = Multimodal.encodeTimingMp4(
            Multimodal.dHashPatternOf(id), seed = id.toInt)
          (id, Multimodal.videoTimingHash(mp4).get)
        }
        .toDF("doc_id", "sk")
      Dedup.hamming64Pairs(sk, maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MEDIA DEDUP AT INGEST (StreamingOps.sketchNearDupStream — the
    // streaming twin of the q199 pair join): the 5k image sketches —
    // REAL PNG decodes, same fixtures — replay in id order through the
    // stateful pigeonhole chunk index, which verifies hamming INSIDE the
    // fold (the 8-byte sketch is the content, so no stream-static fetch
    // join; state = 16 bytes per member per chunk). Pigeonhole exactness
    // at hamming ≤ 3 makes the distinct emitted set EQUAL the batch
    // q199 answer, so the same all-pairs oracle gates the streaming path.
    "q204_streaming_media_dedup" -> ((s, d) => {
      import s.implicits._
      // sketches computed DISTRIBUTED (the real PNG decode is the per-asset
      // cost — 32 threads, not a driver loop), then collected as the tape
      val tape = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.imageDHash(Multimodal.encodeDHashPng(
            Multimodal.dHashPatternOf(id), cell = 1 + (id % 3).toInt)).get)
        }
        .collect().sortBy(_._1).toSeq
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.sketchNearDupStream(
            ds.toDF("doc_id", "sk"), "doc_id", "sk"))
        .toDF("doc_a", "doc_b", "hamming").distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // TTL'd MEDIA DEDUP AT INGEST (StreamingOps.sketchNearDupStreamTtl —
    // q204's rate×TTL bounded-state variant): the tape interleaves by
    // doc-id PARITY (evens first, then odds, 1 s spacing, ttl = n/4 s),
    // so same-parity planted pairs sit ~4 ranks apart (inside the window)
    // while cross-parity pairs of the same group sit ~n/2 apart (beyond
    // it) — both regimes non-empty at every sf, and the admitted set is
    // pure SQL: all-pairs hamming ≤ 3 where the parity-ordered row_number
    // gap ≤ n/4. Hash-gated, not a boolean contract: the TTL op's exact
    // output is re-derived by the oracle.
    "q205_streaming_media_dedup_ttl" -> ((s, d) => {
      import s.implicits._
      // sketches computed DISTRIBUTED (q204 convention), then parity-ordered
      val sks = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.imageDHash(Multimodal.encodeDHashPng(
            Multimodal.dHashPatternOf(id), cell = 1 + (id % 3).toInt)).get)
        }
        .collect().toSeq
      val n = sks.size
      val ttlMs = (n / 4).toLong * 1000L
      // ticks start at 1 s (watermark-0 late-drop, the q192 lesson)
      val tape = sks.sortBy { case (id, _) => (id % 2, id) }.zipWithIndex.map {
        case ((id, sk), i) =>
          (id, new java.sql.Timestamp((i + 1).toLong * 1000L), sk)
      }
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.sketchNearDupStreamTtl(
            ds.toDF("doc_id", "ts", "sk"), "doc_id", "ts", "sk",
            ttlMs = ttlMs))
        .toDF("doc_a", "doc_b", "hamming").distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MEDIA INTO THE INGEST FUNNEL (CurationStream.replayFunnelTtl with a
    // sketch column) — the composition seam q195/q196 and q204/q205 left
    // open: the bounded-state curation funnel now carries each doc's image
    // sketch (REAL PNG decodes, the q199 fixtures) through
    // sketchNearDupStreamTtl IN PARALLEL with the text band index over the
    // same keeper tape, and an occurrence is admitted only when NEITHER
    // modality is an in-window dup. Both stages' oracles already exist —
    // this gate's SQL composes them: q196's lag-window keepers and
    // text-Jaccard drops, plus the later side of any planted-pattern
    // hamming ≤ 3 pair within the same TTL window. dHash groups span
    // adjacent ids, so group mates' base occurrences sit well inside the
    // window (media drops) while re-admissions sit beyond it (no drop) —
    // both regimes non-empty at every sf.
    "q207_streaming_funnel_media" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      // sketches computed DISTRIBUTED (q204 convention), joined as a column
      val sk = docs.select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.imageDHash(Multimodal.encodeDHashPng(
            Multimodal.dHashPatternOf(id), cell = 1 + (id % 3).toInt)).get)
        }
        .toDF("doc_id", "sk")
      graft.streaming.CurationStream.replayFunnelTtl(s,
          docs.join(sk, Seq("doc_id")), col("doc_id"), col("text"),
          skCol = Some(col("sk")))
        .orderBy(col("doc_id"), col("tick"))
    }),

    // MIXED-MODALITY media dedup at ingest — the coverage seam q204 left:
    // its tape replayed IMAGE sketches only, so audio/video sketches never
    // transited the streaming index in any gate. Here the tape picks the
    // decoder BY MODALITY (doc_id%3: PNG pixel decode / WAV PCM energy
    // walk / MP4 stts box walk — each asset through its REAL decoder), and
    // because all three fixtures plant the SAME 64-bit pattern, the three
    // completely different decode paths converge on one sketch stream
    // whose pair set the existing all-pairs oracle already predicts — the
    // q199/q202/q203 'one ground truth, three engine paths' argument
    // extended to the stateful streaming index. RocksGate covers it under
    // the RocksDB provider automatically.
    "q210_streaming_mixed_media" -> ((s, d) => {
      import s.implicits._
      // sketches computed DISTRIBUTED (q204 convention: the per-asset real
      // decode is the cost — 32 threads, not a driver loop)
      val tape = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val pat = Multimodal.dHashPatternOf(id)
          // per-modality encode params vary by (id/3)%3 — id%3 picked the
          // modality, so it is CONSTANT inside each arm and would modulate
          // nothing
          val v = ((id / 3) % 3).toInt
          val sk = (id % 3) match {
            case 0 => Multimodal.imageDHash(
              Multimodal.encodeDHashPng(pat, cell = 1 + v)).get
            case 1 => Multimodal.audioDHash(Multimodal.encodeEnergyWav(pat,
              framesPerWin = 4 + v * 2)).get
            case _ => Multimodal.videoTimingHash(
              Multimodal.encodeTimingMp4(pat, seed = id.toInt)).get
          }
          (id, sk)
        }
        .collect().sortBy(_._1).toSeq
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.sketchNearDupStream(
            ds.toDF("doc_id", "sk"), "doc_id", "sk"))
        .toDF("doc_a", "doc_b", "hamming").distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Small-files compaction PLANNER (Warehouse.compactionPlan) — the
    // warehouse-maintenance op the sink family lacked: micro-batch sinks
    // leave one file per batch per task, and at 100 TB footer-sized files
    // dominate scan cost. Files already ≥ target keep (bin −1); small
    // files pack into dense target-sized bins by budget-quantized prefix
    // sum in file-id order — the SAME two-pass machinery as training-shard
    // packing (Corpus.packShardsByCount), driving a (file_id, bytes) unit
    // stream. The gate manifest is fixture arithmetic (one unit per doc,
    // n_chars as bytes, every 17th file pre-inflated past target so BOTH
    // actions appear at every sf); WarehouseSpec checks the planner's
    // keep set, dense bins, 2·target ceiling and exact bin-count law; the
    // rewrite itself is TableLog.compact's (keeps by reference).
    "q200_compaction_plan" -> ((s, d) => {
      val mf = t(s, d, "documents").select(
        col("doc_id").as("file_id"),
        (col("n_chars") + when(col("doc_id") % 17 === 0, 100000L)
          .otherwise(0L)).as("bytes"))
      graft.sources.Warehouse.compactionPlan(mf, col("file_id"),
          col("bytes"), targetBytes = 2000L)
        .orderBy(col("file_id"))
    }),

    // HTML MAIN-CONTENT EXTRACTION (Corpus.extractMainText) — stage 0 of
    // the curation funnel: per doc a synthesized web page wraps the
    // document text in deterministic doc_id-derived markup (head with
    // script/style noise — the script body contains a bare '<' to defeat
    // naive tag-stripping —, a 3-anchor nav bar, the main <p> with the
    // text ESCAPED plus an entity-bearing suffix, an id%5 low-link-density
    // ref paragraph that must SURVIVE, an id%7 link-farm block and a
    // footer that must BOTH be dropped by link density), and the engine
    // re-derives the clean text + per-doc kept/dropped block counts by the
    // real parse: script/style/head removal, block segmentation, entity
    // decode, link-density boilerplate drop. The q166 planting discipline:
    // the oracle NEVER runs a parser — the planted structure makes the
    // extracted text and counts pure arithmetic on (doc_id, text).
    "q206_html_extract" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // escape ∘ (the operator's decode) = identity on arbitrary text —
      // & FIRST here, & LAST in the decode
      val esc = (c: Column) => regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"),
        ">", "&gt;"), "\"", "&quot;"), "'", "&#39;")
      val html = concat(
        lit("<html><head><title>d"), col("doc_id"),
        lit("</title><script>if(a<b){x=1;}</script><style>p{color:red}" +
          "</style></head><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div><p>"),
        esc(col("text")), lit(" &amp; tail"), col("doc_id"), lit("</p>"),
        when(col("doc_id") % 5 === 0,
          concat(lit("<p>see <a href=\"/r\">ref</a> section "),
            col("doc_id") % 13, lit("</p>"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("<div><a href=\"/x\">x1</a> <a href=\"/y\">x2</a></div>"))
          .otherwise(lit("")),
        lit("<div class=\"footer\">(c) 2026 <a href=\"/t\">Terms</a> " +
          "<a href=\"/p\">Privacy</a></div></body></html>"))
      Corpus.extractMainText(docs.withColumn("html", html),
          col("doc_id"), col("html"))
        .orderBy(col("doc_id"))
    }),

    // CDC MERGE upsert (Warehouse.mergeUpsert) — the warehouse's missing
    // mutation op: a latest-state base (every doc at seq 1) merged with a
    // keyed update stream (id%3 updates at seq 2, id%7 at seq 3 — keys in
    // both take the max-seq row —, id%11 as brand-new inserted keys). The
    // engine plan is updates-only max_by + a broadcast anti join (the base
    // never shuffles); under the monotone-seq CDC contract that EQUALS the
    // latest-per-key window over base ∪ updates, which is exactly what the
    // oracle computes — the equality is the gate.
    "q208_merge_upsert" -> ((s, d) => {
      val (base, updates) = mergeFixture(t(s, d, "documents"))
      graft.sources.Warehouse.mergeUpsert(base, updates, Seq("k"), "seq")
        .orderBy(col("k"))
    }),

    // MANIFEST-LEVEL DATA SKIPPING (TableLog.overwrite with statCols + a
    // filtered TableLog.read) — planning-layer file pruning, the layer
    // ABOVE parquet footer min/max: per-file (min, max) of n_chars ride in
    // the manifest, the table is range-clustered on that column so file
    // ranges are tight, and the graftlog index plans only the files whose
    // stats intersect the filter's range — no footer opened, no directory
    // listed for the skipped files (WarehouseSpec asserts the planned
    // files actually shrank; this gate pins that pruning is SOUND:
    // filtered read ≡ plain filter, which is the entire oracle).
    "q212_manifest_skipping" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tskip")
      graft.sources.TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(8, col("n_chars")),
        root, statCols = Seq("n_chars"))
      graft.sources.TableLog.read(s, root)
        .filter(col("n_chars").between(150L, 250L))
        .orderBy(col("doc_id"))
    }),

    // SURGICAL ROW-LEVEL DELETE through the commit log
    // (TableLog.deleteRange) — the compliance/forget path: the table is
    // range-clustered with manifest stats, and the delete rewrites ONLY
    // the files whose stats intersect the range (the skipping machinery
    // in reverse; untouched files kept by reference — WarehouseSpec
    // proves the same entries survive). The gate pins the semantics: the
    // post-delete head reads exactly the complement of the range (NULL-
    // safe: a range delete must not take NULL rows). Old snapshots retain
    // the rows until vacuum — the Delta DELETE+VACUUM contract, stated on
    // the op.
    "q213_log_delete" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tdel")
      graft.sources.TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(8, col("n_chars")),
        root, statCols = Seq("n_chars"))
      graft.sources.TableLog.deleteRange(s, root, 150L, 250L, "n_chars")
      graft.sources.TableLog.read(s, root).orderBy(col("doc_id"))
    }),

    // TIME TRAVEL through the manifest commit log (TableLog) — the atomic
    // "metastore pointer swap" the compact/merge docs point at, exercised
    // end-to-end: v1 = base snapshot (overwrite), v2 = update batch
    // APPENDED (old files referenced, never copied), v3 = the CDC merge
    // committed as a new snapshot (reads v2, whose duplicate keys collapse
    // to the max-seq winner — identical to q208's merged state). The gate
    // reads ALL THREE versions of one table in one query; every snapshot
    // is plain SQL over (doc_id, n_chars), so the oracle re-derives each
    // version's exact row set. Commit-protocol behaviors that SQL cannot
    // see (rename-is-the-commit, stray-tmp ignorance, optimistic
    // concurrency, keep-by-reference compaction) are WarehouseSpec's.
    "q211_time_travel" -> ((s, d) => {
      val (base, updates) = mergeFixture(t(s, d, "documents"))
      // session-scoped root, wiped at start: versions are always exactly
      // 1..3, and bench reps must not accrete table copies under /tmp
      val root = logRoot(s, d, "tlog")
      graft.sources.TableLog.overwrite(base, root)
      graft.sources.TableLog.append(updates, root)
      graft.sources.TableLog.mergeUpsert(s, root, updates, Seq("k"), "seq")
      Seq(1L, 2L, 3L)
        .map(ver => graft.sources.TableLog.read(s, root, Some(ver))
          .withColumn("version", lit(ver)))
        .reduce(_ unionByName _)
        .orderBy(col("version"), col("k"), col("seq"))
    }),

    // DELTA-ENCODED COMMITS + MANIFEST CHECKPOINTING (TableLog) — the log
    // structure that makes an infinite append stream's metadata cost FLAT:
    // each commit records only its add/remove actions, full snapshots
    // reconstruct from checkpoint + deltas, and the head resolves from
    // _last_checkpoint + forward probe. The gate builds one table through
    // FOUR checkpoint boundaries (interval 2, versions 1..8) and reads
    // EVERY version back — each read crosses a different checkpoint/delta
    // split, so a wrong replay at any boundary breaks the hash. The
    // checkpointed-path ≡ full-replay equivalence and O(batch) manifest
    // bytes are TableLogSpec's (protocol behaviors SQL cannot see).
    "q214_log_checkpoints" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tckp")
      val prev = s.conf.getOption(TableLog.CheckpointIntervalKey)
      s.conf.set(TableLog.CheckpointIntervalKey, "2")
      try {
        TableLog.overwrite(docs.filter(col("doc_id") % 9 === 0)
          .select(col("doc_id"), col("n_chars")), root)
        (1L to 7L).foreach(k =>
          TableLog.append(docs.filter(col("doc_id") % 9 === k)
            .select(col("doc_id"), col("n_chars")), root))
      } finally prev.fold(s.conf.unset(TableLog.CheckpointIntervalKey))(
        s.conf.set(TableLog.CheckpointIntervalKey, _))
      (1L to 8L)
        .map(v => TableLog.read(s, root, Some(v))
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .orderBy(col("version"), col("doc_id"))
    }),

    // CHANGE-DATA-FEED reads from the log (TableLog.readChanges) — the
    // incremental-consumer path every downstream training job needs
    // ("process only what v_n changed since v_m"). Window w1 is
    // append-only: the engine reads ONLY the added files (file-level delta
    // from the manifests, base never scanned); window w2 crosses a rewrite
    // (overwrite that drops and bumps rows), falling back to the q168
    // snapshot-diff machinery with unchanged rows excluded. The oracle
    // re-derives both windows from the fixture arithmetic.
    "q215_log_cdf" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tcdf")
      def slice(m: Long) = docs.filter(col("doc_id") % 3 === m)
        .select(col("doc_id").as("k"), col("n_chars").as("v"))
      TableLog.overwrite(slice(0), root) // v1
      TableLog.append(slice(1), root)    // v2
      TableLog.append(slice(2), root)    // v3
      TableLog.overwrite(                // v4: drop %3==2, bump %5==0
        docs.filter(col("doc_id") % 3 < 2).select(col("doc_id").as("k"),
          when(col("doc_id") % 5 === 0, col("n_chars") + 1000L)
            .otherwise(col("n_chars")).as("v")), root)
      val w1 = TableLog.readChanges(s, root, 1L, 3L,
        col("k"), col("v").cast("string")).withColumn("win", lit("w1"))
      val w2 = TableLog.readChanges(s, root, 3L, 4L,
        col("k"), col("v").cast("string")).withColumn("win", lit("w2"))
      w1.unionByName(w2).orderBy(col("win"), col("doc_id"), col("status"))
    }),

    // PARTITION COLUMNS + STATS IN THE MANIFEST, read through the
    // format("graftlog") relation — both pruning layers now engage
    // AUTOMATICALLY inside a plain .filter(): the manifest-fed FileIndex
    // evaluates the partition predicate against the typed partition row
    // (no directory walked) and turns the pushed data filters into
    // per-column bounds matched against per-file stats. The partition
    // column itself is a real partition column of the scan, typed by the
    // recorded schema, never path-inferred. Soundness gate: format read +
    // filter ≡ plain filter (the q212 discipline); the numFiles-shrink of
    // each layer is GraftLogSourceSpec's.
    "q216_partitioned_log" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tplog")
      TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(4, col("n_chars")),
        root, Seq("source"), Seq("n_chars"))
      s.read.format("graftlog").load(root)
        .filter(col("source") === "src3" &&
          col("n_chars").between(150L, 300L))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // SCHEMA IN THE MANIFEST + ADDITIVE EVOLUTION (TableLog `#schema:`
    // metadata) — a column added in v2/v3 NULL-fills older files at read
    // time, and TIME TRAVEL reads each version with the schema it HAD
    // (v1 has no lang column at all). The gate reads the whole evolving
    // chain aligned to the head schema; the reject-incompatible path
    // (type change throws before anything commits) is TableLogSpec's.
    "q217_schema_evolution" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tevo")
      TableLog.overwrite(docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("n_chars")), root)               // v1
      TableLog.append(docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang")), root)  // v2
      TableLog.append(docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), col("n_chars"), col("lang"),
          upper(col("source")).as("src_u")), root)                  // v3
      (1L to 3L)
        .map(v => TableLog.read(s, root, Some(v))
          .withColumn("version", lit(v)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .select(col("version"), col("doc_id"), col("n_chars"),
          col("lang"), col("src_u"))
        .orderBy(col("version"), col("doc_id"))
    }),

    // PREDICATE DELETE beyond one range (TableLog.delete) — an arbitrary
    // Column predicate with stats-based TRIAGE: the derivable conjunct
    // (n_chars >= 150) is extracted from the expression tree and every
    // file whose stats prove it disjoint is kept BY REFERENCE; the
    // non-derivable modulo conjunct is applied row-level on the rest.
    // NULL-predicate rows are KEPT (SQL delete semantics). The gate pins
    // complement semantics; the keep-by-reference engagement is
    // TableLogSpec's.
    "q218_predicate_delete" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tpdl")
      TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(8, col("n_chars")),
        root, statCols = Seq("n_chars"))
      TableLog.delete(s, root,
        col("n_chars") % 7 === 0 && col("n_chars") >= 150)
      TableLog.read(s, root).orderBy(col("doc_id"))
    }),

    // Z-ORDERED LOG TABLE + 2-D BOX SKIPPING (Warehouse.zValue composed
    // with TableLog multi-column stats) — the table is range-clustered on
    // the MORTON INTERLEAVING of (doc_id, n_chars), so every file covers a
    // tight box in BOTH dimensions at once, per-file stats of both columns
    // ride in the manifest, and the filtered read's 2-d box prunes files on
    // both axes at the PLANNING layer — single-column clustering can only
    // ever skip on one. Soundness gate (the q212 discipline): filtered box
    // read ≡ plain filter; the both-axes planned-files shrink is
    // TableLogSpec's.
    "q225_zorder_log" -> ((s, d) => {
      import graft.sources.{TableLog, Warehouse}
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tzord")
      TableLog.overwrite(
        Warehouse.zClustered(docs.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", n = 16),
        root, statCols = Seq("doc_id", "n_chars"))
      val idHi = docs.agg(max(col("doc_id"))).head().getLong(0) / 4
      val (ncLo, ncHi) = (150L, 300L)
      TableLog.read(s, root)
        .filter(col("doc_id").between(0L, idHi) &&
          col("n_chars").between(ncLo, ncHi))
        .orderBy(col("doc_id"))
    }),

    // DELETION VECTORS (TableLog.deleteVectors — the Delta DV / Iceberg
    // positional-delete shape): row-level delete with ZERO data rewrite —
    // matching (file, row_index) positions land in one sidecar parquet,
    // touched entries reference it (`d:` tokens) and every reader
    // filters the dead rows away; the same file-skip decision as a
    // filtered read keeps provably-clean files untouched, and fully-dead
    // files drop outright.
    // The gate pins complement semantics (same oracle discipline as the
    // rewrite delete q213); the zero-rewrite entry identity, live-count
    // maintenance, stacking, materialize-on-compact and vacuum protection
    // are TableLogSpec's.
    "q226_deletion_vectors" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tdv")
      TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(8, col("n_chars")),
        root, statCols = Seq("n_chars"))
      TableLog.deleteVectors(s, root, col("n_chars").between(150L, 250L))
      TableLog.read(s, root).orderBy(col("doc_id"))
    }),

    // RESTORE — roll the table back to an old version as a NEW commit
    // (TableLog.restore, the Delta RESTORE shape): the head becomes
    // byte-identical to the old snapshot by REFERENCING its files (zero
    // data IO, one delta manifest), history is preserved (the bad version
    // stays readable; the un-do is itself an audited commit), and the
    // restored schema/layout are restated. The gate corrupts a table with
    // a bad overwrite, restores, and reads head + both old versions —
    // every snapshot a plain derivation the oracle re-computes.
    "q224_log_restore" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "trest")
      val good = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
      TableLog.overwrite(good, root)                       // v1
      TableLog.overwrite(docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), (col("n_chars") * 0L).as("n_chars")),
        root)                                              // v2: the accident
      TableLog.restore(s, root, 1L)                        // v3 = v1 again
      Seq(1L, 2L, 3L)
        .map(v => TableLog.read(s, root, Some(v)).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .orderBy(col("version"), col("doc_id"))
    }),

    // FULL-ROW CHANGE-DATA-FEED (TableLog.readChangeRows) — the Delta CDF
    // row shape: every change carries the table columns plus
    // _change_type, and an UPDATED key emits BOTH images
    // (update_preimage = the old row, update_postimage = the new one) —
    // what lets a consumer undo/redo or re-featurize exactly the touched
    // examples. The window crosses the q208 CDC merge, so inserts
    // (brand-new %11 keys), updates (%3/%7 keys, max-seq winner) and
    // untouched keys (emit nothing) all occur; the oracle re-derives
    // every image from the fixture arithmetic.
    "q222_log_cdf_rows" -> ((s, d) => {
      import graft.sources.TableLog
      val (base, updates) = mergeFixture(t(s, d, "documents"))
      val root = logRoot(s, d, "tcdfr")
      TableLog.overwrite(base, root)                          // v1
      TableLog.mergeUpsert(s, root, updates, Seq("k"), "seq") // v2
      TableLog.readChangeRows(s, root, 1L, 2L, Seq("k"))
        .orderBy(col("k"), col("_change_type"))
    }),

    // THE CHANGE FEED AS PURE SQL — the graft_log_cdf TABLE-VALUED
    // FUNCTION completes the log's SQL surface (time travel q227, history
    // q228, changes here): q222's exact fixture and oracle, reached
    // through one spark.sql text — the TVF expands at analysis time into
    // readChangeRows' plan (full-outer join by key, both update images).
    "q231_sql_log_cdf" -> ((s, d) => {
      import graft.sources.TableLog
      val (base, updates) = mergeFixture(t(s, d, "documents"))
      val root = logRoot(s, d, "tcdfsql")
      TableLog.overwrite(base, root)                          // v1
      TableLog.mergeUpsert(s, root, updates, Seq("k"), "seq") // v2
      graft.functions.GraftFunctions.register(s)
      s.sql(s"""SELECT * FROM graft_log_cdf('$root', 1, 2, 'k')
               |ORDER BY k, _change_type""".stripMargin)
    }),

    // COMMIT HISTORY audit (TableLog.history) — DESCRIBE HISTORY from the
    // deltas alone: one row per version with the `#op:` label, add/remove
    // action counts and the epoch token, zero data IO. The log carries no
    // wall-clock by design (replay determinism), so the whole frame is
    // hashable: a fixed op chain (overwrite 4 files / epoch append /
    // surgical no-match delete that rewrites only the stats-less appended
    // file / all-keeps compact) pins the audit trail as a VALUES oracle.
    "q223_log_history" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "thist")
      val sel = docs.select(col("doc_id"), col("n_chars"))
      TableLog.overwrite(
        sel.repartition(4), root, statCols = Seq("n_chars"))     // v1
      TableLog.appendBatch(
        sel.filter(col("doc_id") % 5 === 0).coalesce(1), 7L, root) // v2
      TableLog.deleteRange(s, root, 1000000000L, 2000000000L,
        "n_chars")                                              // v3
      TableLog.compact(s, root, targetBytes = 1L)               // v4
      TableLog.history(s, root).orderBy(col("version"))
    }),

    // METADATA-ONLY AGGREGATES from the manifest (TableLog.rowCounts /
    // partitionRowCounts) — per-file row counts ride in the manifest
    // (`r:` tokens, collected by the same one-pass aggregation as the
    // stats), so COUNT(*) and GROUP-BY-partition row accounting are
    // answered from ONE manifest read with zero data IO — the
    // Delta-numRecords / Iceberg-snapshot-summary surface. Count-less
    // files (writers that never scan) are counted by scanning JUST them —
    // the hybrid never reads a counted file (spec proves it by deleting
    // the data files and counting anyway).
    "q221_manifest_counts" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tcnt")
      TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(4, col("n_chars")),
        root, Seq("source"), Seq("n_chars"))
      TableLog.partitionRowCounts(s, root)
        .withColumn("total", lit(TableLog.rowCounts(s, root)))
        .orderBy(col("source"))
    }),

    // PARTITION-TRIAGED DELETE (TableLog.delete on a partitioned logged
    // table) — the "forget one source" compliance shape: the predicate's
    // partition conjunct (source = 'src3') is evaluated on each file's
    // typed manifest partition value by the graftlog index, every OTHER
    // partition's files are kept BY REFERENCE (no file opened), and only
    // src3's files are read,
    // row-filtered by the full predicate (the n_chars conjunct) and
    // rewritten in layout. The gate pins complement semantics; the
    // untouched-partition entry identity is TableLogSpec's.
    "q220_partition_delete" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tpdp")
      TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(4, col("n_chars")),
        root, Seq("source"), Seq("n_chars"))
      TableLog.delete(s, root,
        col("source") === "src3" && col("n_chars") % 2 === 0)
      TableLog.read(s, root).orderBy(col("doc_id"))
    }),

    // THE LOOP CLOSED IN-ENGINE: ingest → commit → tail → curate — a
    // producer commits 4 batches into a logged table through the
    // exactly-once epoch path, and a CONSUMER tails the commit stream
    // through the REAL streaming source (spark.readStream
    // .format("graftlog"), versions as offsets, one version per
    // micro-batch, each batch a native parquet scan of exactly that
    // version's appended files — rows never touch the driver): the
    // stateful exact-dedup keep stream (CurationStream.exactKeepStream)
    // carries state across commit boundaries. Content is planted
    // (doc_id % 50) so the keeper law is plain SQL: first (version,
    // doc_id) per content wins — a wrong version order, a double-consumed
    // epoch or a split version batch all break the hash.
    "q219_log_tail_funnel" -> ((s, d) => {
      import s.implicits._
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "ttail")
      val src = docs.select(col("doc_id"),
        concat(lit("T"), (col("doc_id") % 50).cast("string")).as("content"))
      TableLog.overwrite(src.filter(col("doc_id") % 4 === 0), root) // v1
      (1L to 3L).foreach(k =>                                       // v2..v4
        TableLog.appendBatch(src.filter(col("doc_id") % 4 === k), k, root))
      graft.streaming.MemoryReplay.drainTape(s, root)(df =>
          graft.streaming.CurationStream.exactKeepStream(
            df.as[(Long, String)].toDF("doc_id", "content"),
            "doc_id", "content"))
        .toDF("doc_id", "exact_keep")
        .orderBy(col("doc_id"))
    }),

    // SQL TIME TRAVEL — the graft_log TABLE-VALUED FUNCTION
    // (GraftExtensions.injectedTableFns): a pure-SQL user reads any
    // committed version as `FROM graft_log('<root>', v)` (head when the
    // version is omitted); the TVF expands at analysis time into the
    // manifest-fed relation, so pruning and codegen are the ordinary read
    // path. The whole query below is ONE spark.sql text — no Scala read
    // API touched after the fixture commits.
    "q227_sql_log_tvf" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tsqltvf")
      TableLog.overwrite(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars")), root)               // v1
      TableLog.append(docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars")), root)               // v2
      graft.functions.GraftFunctions.register(s)
      s.sql(
        s"""SELECT doc_id, n_chars, CAST(1 AS BIGINT) AS version
           |FROM graft_log('$root', 1)
           |UNION ALL
           |SELECT doc_id, n_chars, CAST(2 AS BIGINT) AS version
           |FROM graft_log('$root')
           |ORDER BY version, doc_id""".stripMargin)
    }),

    // SQL HISTORY AUDIT — graft_log_history('<root>') over q223's exact
    // op chain (overwrite 4 files / epoch append / surgical delete /
    // all-keeps compact): DESCRIBE HISTORY as one spark.sql text, pinned
    // against the same literal VALUES oracle as the Scala surface.
    "q228_sql_log_history" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tsqlhist")
      val sel = docs.select(col("doc_id"), col("n_chars"))
      TableLog.overwrite(
        sel.repartition(4), root, statCols = Seq("n_chars"))         // v1
      TableLog.appendBatch(
        sel.filter(col("doc_id") % 5 === 0).coalesce(1), 7L, root)  // v2
      TableLog.deleteRange(s, root, 1000000000L, 2000000000L,
        "n_chars")                                                  // v3
      TableLog.compact(s, root, targetBytes = 1L)                   // v4
      graft.functions.GraftFunctions.register(s)
      s.sql(s"SELECT * FROM graft_log_history('$root') ORDER BY version")
    }),

    // CONCURRENT-WRITER COMMIT REBASE (TableLog.commitDeltaRebasing) — the
    // Delta-style conflict resolution: writer A plans and STAGES its
    // append against v1; writer B commits v2 first; A's commit loses the
    // CAS, finds B's intervening actions disjoint from its own (a blind
    // append removes nothing) and RE-COMMITS automatically as v3 — no
    // caller-side retry, no re-staging. The gate pins that the rebased
    // head equals the SERIAL execution (base ∪ B's batch ∪ A's batch);
    // the true-overlap throw (delete × compact on the same files) and the
    // schema-evolution recompute are TableLogSpec's.
    "q229_commit_rebase" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "trebase")
      val third = (k: Int) => docs.filter(col("doc_id") % 3 === k)
        .select(col("doc_id"), col("n_chars"))
      TableLog.overwrite(third(0), root)                    // v1
      val stagedByA = TableLog.writeData(third(2), root)    // A stages vs v1
      TableLog.append(third(1), root)                       // B wins v2
      TableLog.commitDeltaRebasing(s, root, stagedByA, Nil, basedOn = 1L,
        _ => Seq("op:append", "schema:" + third(2).schema.json)) // A → v3
      TableLog.read(s, root).orderBy(col("doc_id"))
    }),

    // THE WRITE SIDE of format("graftlog") (round 16): before this the
    // log was readable five ways but writable only from the Scala API.
    // The table here is built PURELY through the Spark write surfaces —
    // DataFrame-writer create (v1, with manifest stats), writer append
    // (v2), then pure-SQL INSERT INTO through the analyzer rewrite
    // (GraftLogInsertRewrite replans the built-in file-relation insert as
    // the manifest-committing command; a raw parquet write into the root
    // would be invisible to the manifest) — and read back through a fresh
    // format load. Exactness against the plain derivation proves every
    // surface committed through the log.
    "q232_log_write_path" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val root = logRoot(s, d, "twritep")
      docs.filter(col("doc_id") % 3 === 0).write.format("graftlog")
        .mode("overwrite").option("stats", "n_chars").save(root)     // v1
      docs.filter(col("doc_id") % 3 === 1).write.format("graftlog")
        .mode("append").option("stats", "n_chars").save(root)        // v2
      graft.functions.GraftFunctions.register(s)
      docs.createOrReplaceTempView("glw232_src")
      s.sql("CREATE OR REPLACE TEMPORARY VIEW glw232 " +
        s"USING graftlog OPTIONS (path '$root')")
      s.sql("INSERT INTO glw232 SELECT doc_id, source, n_chars " +
        "FROM glw232_src WHERE doc_id % 3 = 2")                      // v3
      s.read.format("graftlog").load(root).orderBy(col("doc_id"))
    }),

    // MAINTENANCE DML FROM PURE SQL (round 16): DELETE was Scala-only
    // (q213/q218 call TableLog.delete); here the SAME stat-triaged
    // delete runs as SQL text — graft_log_delete('<root>', '<pred>')
    // executes the rewrite (files provably outside the range kept by
    // reference) and the table reads back through the graft_log TVF, so
    // the whole mutation+read round trip never leaves spark.sql. Oracle:
    // the delete's complement over the source table.
    "q233_sql_delete" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
      val root = logRoot(s, d, "tsqldel")
      TableLog.overwrite(
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .repartitionByRange(8, col("n_chars")),
        root, statCols = Seq("n_chars"))
      graft.functions.GraftFunctions.register(s)
      val v = s.sql(s"SELECT version FROM graft_log_delete('$root', " +
        "'n_chars BETWEEN 150 AND 250')").head().getLong(0)
      require(v == 2L, s"SQL delete must commit version 2, got $v")
      s.sql(s"SELECT doc_id, source, n_chars FROM graft_log('$root')")
        .orderBy(col("doc_id"))
    }),

    // COLUMN MAPPING (round 16): RENAME COLUMN as a METADATA-ONLY commit
    // — the Delta column-mapping shape. Physical names (what files and
    // manifest stats are keyed by) never change; the rename re-points the
    // logical name, v1 time-travels under the OLD name, the post-rename
    // append lands under the new logical name in physical files, and the
    // filter on the renamed column still PRUNES via stats keyed by the
    // physical id (one alias projection Catalyst pushes filters through).
    "q234_column_rename" -> ((s, d) => {
      import graft.sources.TableLog
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val root = logRoot(s, d, "trename")
      TableLog.overwrite(docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("n_chars")),
        root, statCols = Seq("n_chars"))                             // v1
      TableLog.renameColumn(s, root, "n_chars", "char_count")        // v2
      TableLog.append(docs.filter(col("doc_id") % 2 === 1)
        .withColumnRenamed("n_chars", "char_count"), root)           // v3
      require(TableLog.read(s, root, Some(1L)).columns.contains("n_chars"),
        "v1 must time-travel under its own (pre-rename) name")
      TableLog.read(s, root).filter(col("char_count") > 100L)
        .orderBy(col("doc_id"))
    }),

    // TYPED MANIFEST STATS (TableLog `t:` tokens) — the most common real
    // predicate is a TIME RANGE, and before round 15 only long columns
    // could skip at the manifest layer. The table is range-clustered on
    // o_orderdate; per-file (min, max) ride TYPED in the manifest
    // (timestamp as epoch micros, double as IEEE, string prefix-truncated
    // with the round-up soundness rule), and a plain .filter() with a
    // timestamp range + a double threshold + a string equality prunes
    // whole files at the PLANNING layer through the format("graftlog")
    // relation. Soundness gate (the q212 discipline): the filtered read
    // must equal the plain derivation; the planned-files shrink per kind
    // is TableLogSpec/GraftLogSourceSpec's.
    "q230_typed_skipping" -> ((s, d) => {
      import graft.sources.TableLog
      val orders = t(s, d, "orders")
      val root = logRoot(s, d, "ttyped")
      TableLog.overwrite(
        orders.select(col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"), col("o_orderpriority"))
          .repartitionByRange(8, col("o_orderdate")),
        root, statCols = Seq("o_orderdate", "o_totalprice", "o_orderpriority"))
      s.read.format("graftlog").load(root)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz") &&
          col("o_totalprice") > 150000.0 &&
          col("o_orderpriority") === "1-URGENT")
        .orderBy(col("o_orderkey"))
    }),

    // TRAINED language ID (Corpus.langIdTrained) — q19's heuristic upgraded
    // to a model through the engine's own gated machinery: hashedEmbedding
    // features, per-language centroid TRAINING as one aggregation, q198's
    // num²/n2 broadcast scoring, argmax as a map-side min_by. The fixture
    // plants real language structure scan-side (a per-lang marker token
    // repeated 1 + doc_id%3 times appended to the text — the declared lang
    // column finally has signal to learn), and the oracle re-derives the
    // ENTIRE train+score pipeline — every hashed count, centroid sum,
    // integer dot and the exact double score — then pins the agreement as
    // a confusion matrix over (declared, predicted).
    "q209_lang_id_trained" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val marker = when(col("lang") === "en", lit("indeed "))
        .when(col("lang") === "de", lit("jedoch "))
        .when(col("lang") === "es", lit("aunque "))
        .when(col("lang") === "fr", lit("toutefois "))
        .otherwise(lit("dehua "))
      val aug = docs.withColumn("text2",
        concat(col("text"), lit(" "), call_function("repeat", marker,
          (lit(1L) + col("doc_id") % 3).cast("int"))))
      Corpus.langIdTrained(aug, col("doc_id"), col("text2"), col("lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // q199's pairs closed into MEDIA DEDUP GROUPS (Dedup.dupGroups — the
    // q62 composition over the image-hash edge list): every doc mapped to
    // its perceptual component's min id + the keep flag a multimodal
    // training pipeline filters on. Oracle: the same pattern arithmetic,
    // all-pairs hamming graph, recursive-CTE min-reachable-id closure.
    "q201_image_dup_groups" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sk = docs.select(col("doc_id")).as[Long]
        .map { id =>
          val png = Multimodal.encodeDHashPng(
            Multimodal.dHashPatternOf(id), cell = 1 + (id % 3).toInt)
          (id, Multimodal.imageDHash(png).get)
        }
        .toDF("doc_id", "sk")
      val pairs = Dedup.hamming64Pairs(sk, maxHamming = 3)
      Dedup.dupGroups(docs, col("doc_id"), pairs).orderBy(col("doc_id"))
    }),

    // Model-based quality filter (Corpus.hashedLinearScore): hashing-trick
    // linear scorer — feature id = portable token hash mod dim (pure
    // arithmetic, NO vocabulary join), weights one foldable literal, the
    // native graft_hashscore kernel folds in token order so the double sum
    // is engine-identical. The weight vector here is the deterministic
    // scramble w(j) = ((j·2654435761+40503) mod 2^32)/2^32 − 0.5 — the
    // PLUMBING is the deliverable (a trained model is just a different
    // literal), and with portable hashes + pinned fold order the oracle
    // recomputes every feature id and the exact score
    "q101_quality_classifier" -> ((s, d) => {
      val w = (0 until 1024).map(j =>
        ((j.toLong * 2654435761L + 40503L) % 4294967296L).toDouble
          / 4294967296.0 - 0.5)
      operators.Corpus.hashedLinearScore(t(s, d, "documents"),
          col("doc_id"), col("text"), w)
        .orderBy(col("doc_id"))
    }),

    // SemDeDup (Similarity.semDedup, arXiv:2303.09540): semantic dedup —
    // k-means clusters bound the pair search, within-cluster cosine >= 0.4
    // pairs close under transitivity, each component keeps its min-id
    // member. Centroids = vectors 0..7 (deterministic, the q61 contract).
    // The oracle recomputes the assignment argmin, every within-cluster
    // cosine, and the components via recursive reachability — clustering,
    // pair generation AND closure are all hash-gated.
    "q102_semdedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      Similarity.semDedup(t(s, d, "embeddings"),
          e.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("v").as("cv")),
          threshold = 0.4)
        .orderBy(col("vec_id"))
    }),

    // OHLC + VWAP bars (Bars.ohlcVwap): the hourly market rollup — one
    // partial-aggregated groupBy per side (open/close via lexicographic
    // min/max(struct(ts, seq, px)) — seq-unique, so deterministic), exact
    // DECIMAL VWAP numerator, full-outer reunion on (hub, bar).
    "q103_ohlc_vwap_bars" -> ((s, d) =>
      operators.Bars.ohlcVwap(Pnl.eventsAsMarket(ev(s, d)).toDF())
        .orderBy(col("hub"), col("bucket_start_s"))),

    // Per-hub EWMA (Sma.ewma, α = 0.25): an order-dependent recurrence —
    // the same keyed mapPartitions fold shape as the PnL replay. α and 1−α
    // are exact binary fractions and the fold order is pinned (ts, seq),
    // so the oracle's recursive CTE reproduces every double bit-for-bit.
    "q104_ewma" -> ((s, d) => {
      import s.implicits._
      Sma.ewma(Pnl.eventsAsMarket(ev(s, d)).filter(_.kind == "price"), alpha = 0.25)
        .select(col("seq"), ntz(col("ts")).as("ts"), col("hub"),
          col("price_mwh"), col("ewma"))
        .orderBy(col("seq"))
    }),

    // Class-separability scatter (Kmeans.labelScatter): per-label n,
    // within-class SS, between-class SS — the Fisher/LDA decomposition over
    // the labelled embeddings, DECIMAL-exact centroids + shared dot
    // identity so every double matches the oracle bit-for-bit.
    "q115_label_scatter" -> ((s, d) =>
      operators.Kmeans.labelScatter(t(s, d, "embeddings"))
        .orderBy(col("label"))),

    // TPC-H Q5 shape (local supplier volume): the 6-table join tree with
    // the c_nationkey = s_nationkey correlation predicate — region/nation/
    // supplier/customer broadcast as dims, the lineitem⋈orders fact join
    // is the only big shuffle, the year filter reaches the orders scan.
    "q127_tpch_q5" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))),

    // TPC-H Q6 shape (forecast revenue change): pure filter + global agg —
    // every predicate (date range, discount band, quantity cap) must reach
    // the parquet scan as a pushed filter; zero joins, one exchange of one
    // partial-agg row per partition.
    "q131_tpch_q6" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double").as("revenue"))),

    // TPC-H Q10 shape (returned-item reporting): revenue aggregates on the
    // fact join FIRST (lineitem R-flag ⋈ quarter of orders, the only big
    // shuffle), THEN joins the per-custkey frame to customer + broadcast
    // nation — grouping before the dimension join keeps the second join's
    // build side at |customers with returns|, not |lineitems|. Top-20 via
    // TakeOrdered, no global sort.
    "q132_tpch_q10" -> ((s, d) => {
      val rev = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp")
              && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
      rev.join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }),

    // TPC-H Q14 shape (promotion effect): one-month lineitem ⋈ broadcast
    // part, conditional vs total revenue in a single agg pass — the
    // filter-join-ratio idiom; part is the broadcastable dim.
    "q133_tpch_q14" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            sum(when(col("p_type").startsWith("PROMO"),
                (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                  .cast("decimal(18,6)"))
              .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
            / sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                .cast("decimal(18,6)")).cast("double"))
          .as("promo_revenue"))),

    // TPC-H Q18 shape (large-volume customers): the having-subquery plan —
    // per-order quantity agg first (map-side partial combine collapses the
    // fact scan to |orders| rows before the exchange), filter > 250, then
    // join orders + customer on the surviving keys. l_quantity is
    // integer-valued, so double sums are exact and order-independent.
    "q134_tpch_q18" -> ((s, d) => {
      val big = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates): the
    // OR-of-ANDs mixes columns from BOTH join sides, so nothing prunes the
    // scans individually — the filter must run post-join while the join
    // itself stays a broadcast on the part dim. Exercises exactly the
    // predicate shape that defeats naive pushdown.
    "q141_tpch_q19" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
            && col("l_quantity").between(1, 11))
          || (col("p_brand") === "Brand#20" && col("p_size").between(1, 10)
            && col("l_quantity").between(10, 20))
          || (col("p_brand") === "Brand#13" && col("p_size").between(1, 15)
            && col("l_quantity").between(20, 30)))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))),

    // TPC-H Q22 shape (global sales opportunity): above-average balances
    // with NO recent orders — a broadcast 1-row scalar aggregate feeding a
    // filter, then a left-anti join against the recent-order keys. The
    // anti join's build side is the date-filtered order keys, not the
    // customer table.
    "q142_tpch_q22" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("avg_bal"))
      val recent = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(18,6)")).cast("double").as("totacctbal"))
        .orderBy(col("c_mktsegment"))
    }),

    // RANGE-frame window (the time-based frame q47's ROWS family doesn't
    // cover): per customer, each order's trailing-30-day revenue — frame
    // bounds are VALUES (seconds), not row counts, so sparse/bursty order
    // histories window correctly. One shuffle on custkey + per-key sort;
    // the decimal sum inside the frame keeps the hash gate exact.
    "q140_range_frame" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("ts_s"))
        .rangeBetween(-2592000L, 0L)
      t(s, d, "orders")
        .withColumn("ts_s", unix_timestamp(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast("decimal(18,6)")).over(w)
            .cast("double").as("trail_30d"))
        .orderBy(col("o_orderkey"))
    }),

    // Bucketed co-located join: both sides written bucketBy(8, custkey) +
    // sortBy, then joined AS TABLES — the bucketed reads carry
    // HashPartitioning(custkey), so the sort-merge join needs NO exchange
    // on either side (WarehouseSpec asserts exactly one Exchange in the
    // whole plan: the post-join groupBy). This is pre-shuffling
    // materialized: at 100 TB you pay the fact table's shuffle once at
    // write time and every subsequent join on the bucket key is free.
    // merge hint (not broadcast) so the plan exercises the bucket path at
    // fixture scale too; the oracle gates values against the unbucketed
    // originals.
    "q139_bucketed_join" -> ((s, d) => {
      val sfx = d.replaceAll("[^a-zA-Z0-9]", "_")
      val (ot, ct) = (s"orders_bkt_$sfx", s"customer_bkt_$sfx")
      // a stale warehouse dir from a previous session is invisible to the
      // fresh in-memory catalog and fails CREATE with LOCATION_ALREADY_EXISTS
      Seq(ot, ct).foreach { name =>
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath
        rmTree(new java.io.File(wh, name))
      }
      t(s, d, "orders").write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
      t(s, d, "customer").write.mode("overwrite").format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
      s.table(ot).hint("merge")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // Hive-style partition-layout round-trip: write documents partitioned
    // by source, read back with a partition predicate, aggregate — the
    // layout every 100 TB corpus actually lives in. The predicate must
    // resolve at PLAN time from directory names (PartitionFilters — a
    // 1-of-20 directory listing), never as a data filter over all rows;
    // WarehouseSpec asserts exactly that on this query's plan. Values are
    // gated against the unpartitioned original by the oracle, so the
    // write→prune→read loop also proves the layout preserves the data.
    "q138_partition_pruning" -> ((s, d) => {
      val dir = s"/tmp/graft_part_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      t(s, d, "documents").write.mode("overwrite")
        .partitionBy("source").parquet(dir)
      s.read.parquet(dir).filter(col("source") === "src7")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Text → token-id encoding (Corpus.tokenizeIds): q53's top-100 vocab
    // ranked into ids 1..100 (OOV 0), every doc re-emitted as its
    // space-joined id sequence + OOV count — the curation→training bridge.
    // Vocab ranking windows over the 100-row frame only; the lookup join
    // broadcasts; per-doc assembly is a bounded sorted collect.
    "q137_tokenize_ids" -> ((s, d) =>
      operators.Corpus.tokenizeIds(t(s, d, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    // Matryoshka truncation audit: L2-normalize, keep the 16-dim prefix,
    // report the retained energy (‖prefix‖² of the unit vector) and the
    // renormalized lead component — the check run before trusting a
    // truncated index. Pure scan-side arithmetic over the shared
    // sequential-dot identity; every double matches the oracle bit-for-bit.
    "q135_matryoshka_energy" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), operators.Similarity.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", operators.Similarity.norm(col("v")))
        .withColumn("uv", transform(col("v"), x => x / col("nrm")))
        .withColumn("t16", slice(col("uv"), 1, 16))
      e.select(col("vec_id"), col("nrm").as("full_norm"),
          operators.Similarity.dot(col("t16"), col("t16")).as("energy16"),
          (element_at(col("t16"), 1)
            / sqrt(operators.Similarity.dot(col("t16"), col("t16"))))
            .as("lead_component"))
        .orderBy(col("vec_id"))
    }),

    // Matryoshka two-stage KNN (Similarity.matryoshkaKnn): coarse rank on
    // the 32-dim prefix (the proportionally-cheaper scan at 100 TB), exact
    // rerank of the 100-candidate shortlist on full vectors — the nested-
    // representation retrieval funnel, reproduced decision-for-decision by
    // the oracle.
    "q136_matryoshka_knn" -> ((s, d) =>
      operators.Similarity.matryoshkaKnn(t(s, d, "embeddings"),
          col("vec_id") < 5, k = 10)
        .orderBy(col("qid"), col("rn"))),

    // Dimension covariance matrix (Kmeans.covarianceMatrix): the
    // second-moment summary PCA starts from. ONE corpus scan: a
    // per-partition primitive-loop kernel (mapPartitions, exact-decimal
    // cells — no self-join, no HOF lambda) accumulates the d(d+1)/2 pair
    // products AND the d per-dim sums; the exchange carries one
    // (i, j, n, subtotal) row per cell per partition — O(d²) regardless
    // of row count — and the closed-form finish runs driver-side on the
    // collected KB-sized cell frame (the Pca-Jacobi precedent).
    "q126_covariance" -> ((s, d) =>
      operators.Kmeans.covarianceMatrix(t(s, d, "embeddings"))
        .orderBy(col("i"), col("j"))),

    // PCA (Pca.fit/transform/qualityReport): eigen-decomposition of the
    // q126 covariance on the DRIVER (d×d — KBs; the centroid/codebook
    // train-small constant pattern), projection as k codegen'd graft_dot
    // kernels over the mean-centered vector — zero exchange. Gate booleans:
    // basis orthonormality, descending eigenvalues, trace preservation,
    // eigenpair residual, variance-explained floor, and the DATA-side check
    // that each component's projected sample variance equals its eigenvalue.
    "q128_pca" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      operators.Pca.qualityReport(t(s, d, "embeddings"), k = 8,
        varFloor = 0.05)
    }),

    // Regular-grid resample + forward-fill (Bars.resampleFfill): the
    // gap-free hourly series a model trains on — ticks collapse to bars,
    // the grid explodes from the per-hub SPANS frame (never from ticks),
    // empty buckets carry the last close via last() IGNORE NULLS.
    "q123_resample_ffill" -> ((s, d) => {
      import s.implicits._
      operators.Bars.resampleFfill(Pnl.eventsAsMarket(ev(s, d)).toDF())
        .orderBy(col("hub"), col("bucket_start_s"))
    }),

    // TPC-H Q3 shape (shipping-priority revenue): segment-filtered
    // customer (broadcast dim) × date-filtered orders × lineitem, decimal
    // revenue, bounded top-10 — the classic 3-table analytics join.
    "q124_tpch_q3" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem")
            .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)),

    // Equi-width histogram (Profile.histogram): value-distribution bins
    // for a numeric column — the profiling companion every drift check
    // reads. One partial-agg scan; bins are scan-side floor arithmetic.
    "q125_histogram" -> ((s, d) =>
      operators.Profile.histogram(t(s, d, "orders"), col("o_totalprice"),
          width = 50000.0)
        .orderBy(col("bin"))),

    // Chi-square contingency (Stats.contingencyChi2): source × lang
    // observed/expected/χ²-contribution cells — the independence audit
    // between metadata dimensions. One partial-agg scan to the cell frame;
    // margins re-aggregate CELLS (never the data) and broadcast back.
    "q120_chi2" -> ((s, d) =>
      operators.Stats.contingencyChi2(t(s, d, "documents"),
          col("source"), col("lang"))
        .orderBy(col("a"), col("b"))),

    // Grouped OLS (Stats.olsByGroup): per-source regression of document
    // length on token count — exact DECIMAL(38,0) slope/intercept
    // numerators over integer sums inside the operator; the HASHED
    // projection is all-BIGINT (grp, n, slope_micro, icept_micro — the
    // round-half-away 10⁶-scaled ratios via IntRatio.micro). The
    // DECIMAL(38,0) num/den pair and DECIMAL(18,6) ratios stay an internal
    // ScalaTest contract (StatsSpec): rounds 6-8 proved value-identical
    // wide-decimal outputs hash-fail the driver gate on representation
    // canonicalization alone, so no exotic type may reach a hashed output.
    "q121_group_ols" -> ((s, d) =>
      operators.Stats.olsByGroup(
          t(s, d, "documents").select(col("source"),
            size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_tok"),
            col("n_chars")),
          col("source"), col("n_tok"), col("n_chars"))
        .select(col("grp"), col("n"),
          when(col("slope_den") =!= 0,
            graft.functions.IntRatio.micro("slope_num", "slope_den"))
            .as("slope_micro"),
          when(col("slope_den") =!= 0,
            graft.functions.IntRatio.micro("icept_num", "slope_den"))
            .as("icept_micro"))
        .orderBy(col("grp"))),

    // Rolling z-score anomaly detection (Sma.rollingAnomalies): ticks more
    // than 3 trailing sample-σ from their own 20-tick mean, tested entirely
    // in integer cents arithmetic ((n−1)·dev² > 9n·(nQ−S²) — no sqrt, no
    // division). Same one-exchange-one-sort window shape as the SMA family.
    "q119_rolling_anomaly" -> ((s, d) => {
      import s.implicits._
      operators.Sma.rollingAnomalies(
          Pnl.eventsAsMarket(ev(s, d)).filter(_.kind == "price").toDF(),
          col("hub"), col("price_mwh"), Seq(col("ts"), col("seq")))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("hub"),
          col("price_mwh"), col("dev2_scaled"), col("thr_scaled"))
        .orderBy(col("seq"))
    }),

    // Streaming anomaly detection ≡ batch ≡ oracle (q119's twin): the
    // price tape replayed in 4 ordered micro-batches through a per-hub
    // ring of the last 19 cents values; each tick completes its own
    // 20-window and runs the SAME integer 3σ kernel. Append mode — only
    // flagged ticks emit.
    "q122_streaming_anomaly" -> ((s, d) => {
      import s.implicits._
      val tape = Pnl.eventsAsMarket(ev(s, d)).filter(_.kind == "price").collect()
        .toSeq.sortBy(e => (e.ts.getTime, e.seq))
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(
          graft.streaming.StreamingOps.anomalyStream(_))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("hub"),
          col("price_mwh"), col("dev2_scaled"), col("thr_scaled"))
        .orderBy(col("seq"))
    }),

    // PMI collocations (Corpus.pmiCollocations): top-50 word pairs by
    // association lift c₁₂N²/(Mc₁c₂) — collocation mining over the corpus
    // vocabulary. Log-free ranking (log is monotone in lift) keeps every
    // compared value engine-exact; explode→partial-agg counts, vocab-sized
    // hash joins, broadcast totals, bounded TakeOrdered top-k.
    "q118_pmi" -> ((s, d) =>
      operators.Corpus.pmiCollocations(t(s, d, "documents"), col("text"))),

    // Dataset profiling (Profile.profile): per-column row/null/distinct
    // counts + lexicographic min/max + total string length in ONE scan —
    // the data-health report each curation stage is audited with. Exact
    // distincts plan as a k-column Expand with map-side partial agg; the
    // wide→long stack is scan-side over the single aggregated row.
    "q117_profile" -> ((s, d) =>
      operators.Profile.profile(t(s, d, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))),

    // Exact ROC AUC (Eval.aucROC): the tie-aware Mann-Whitney rank
    // statistic of "dot-with-vector-0 predicts label 0" over the labelled
    // embeddings — the eval gate a scorer passes before its threshold is
    // trusted to curate data. The rank sum is the packShards two-pass
    // prefix-sum keyed by score (NEVER a global-window rank over the
    // corpus); BigInteger accumulation + integer numerator/denominator
    // keep it exact at any scale, and the oracle recomputes the same
    // doubled average ranks in HUGEINT.
    //
    // Hash-gate output type discipline (the r6-r8 lesson, three rounds of
    // hash-fails): the HASHED projection is all-BIGINT. (1) The score is an
    // INTEGER dot of floor(x·10⁶)-quantized components — floor of an IEEE
    // multiply is deterministic in every engine (no round-half boundary to
    // land on, unlike the previous round(dot, 6)), and with 64 dims of
    // |c|≤6·10⁵ the products (≤3.6·10¹¹) and sums (≤2.3·10¹³) stay inside
    // float64's 2⁵³ exact-integer range, so even an engine that sums via
    // double (DuckDB list_dot_product) gets the EXACT integer. (2) The
    // output drops the DECIMAL(38,0) num/den pair and the DECIMAL(18,6)
    // ratio — the only wide-decimal outputs in the whole inventory, and the
    // only hash-fails — for BIGINT auc_micro = round-half-away(num/den·10⁶)
    // via IntRatio.micro. num/den exactness stays a ScalaTest contract
    // (EvalSpec), not a hashed column.
    "q116_auc" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0d)).cast("long"))
            .as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .select(when(col("label") === 0, 1L).otherwise(0L).as("pos"),
          aggregate(zip_with(col("v"), col("qv"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("score"))
      operators.Eval.aucROC(scored, col("pos"), col("score"))
        .select(col("n_pos"), col("n_neg"),
          when(col("n_pos") > 0 && col("n_neg") > 0,
            graft.functions.IntRatio.micro("auc_num", "auc_den"))
            .as("auc_micro"))
    }),

    // BPE merge training (Corpus.bpeTrain, arXiv:1508.07909): the first 10
    // byte-pair merges learned over the corpus — the tokenizer-training
    // step between curation (q53 vocab, q137 token ids) and model
    // training. ONE corpus scan builds the (word, count) frame; every
    // merge round is vocab-sized (adjacent-pair explode + partial-agg +
    // 1-row argmax with pinned ties). The oracle replays all 10 rounds
    // unrolled — pair counts, argmax AND the greedy left-to-right merge
    // application are hash-gated.
    // Ships the bpeTrainFast path (one corpus scan + local incremental
    // merge loop — the real-merge-count architecture); row-for-row
    // equality with the per-round distributed bpeTrain is CorpusBpeFastSpec.
    "q144_bpe_train" -> ((s, d) =>
      operators.Corpus.bpeTrainFast(t(s, d, "documents"), col("text"),
          nMerges = 10)
        .orderBy(col("step"))),

    // BPE train → ENCODE composition (Corpus.bpeEncode): the 10 learned
    // merges (driver-collected, KBs) are applied once per DISTINCT word —
    // vocabulary-factored, bounded by language not corpus — and documents
    // broadcast-join the applied vocab for per-doc token/symbol counts.
    // The oracle re-learns the same merges (BPE_CTES) and reads the final
    // frame's symbol lengths, so the whole train→apply pipeline is
    // hash-gated end to end.
    "q147_bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = operators.Corpus.bpeTrainFast(docs, col("text"), nMerges = 10)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      operators.Corpus.bpeEncode(docs, col("doc_id"), col("text"), merges)
        .orderBy(col("doc_id"))
    }),

    // Fair round-robin interleave (Corpus.fairInterleave, budget 200): a
    // deterministic global training ORDER alternating sources one doc at a
    // time — position (rn−1)·k + src_idx from a per-source hash-rank
    // window + a k-row broadcast source index. The order-aware counterpart
    // to q82's how-many mixing.
    "q114_fair_interleave" -> ((s, d) =>
      operators.Corpus.fairInterleave(t(s, d, "documents"), col("doc_id"),
          col("source"), budget = 200L)
        .orderBy(col("pos"))),

    // Curriculum quality binning (composition: Corpus.hashedLinearScore ×
    // Percentiles.exact): q101's model scores bracketed into exact global
    // quartile bins — the curriculum/stratification pass training
    // pipelines run after scoring. Brackets are a 1×3 broadcast frame
    // (Percentiles' exchange is KB-sized by construction); bin assignment
    // is a scan-side when-chain, zero extra shuffle. The oracle recomputes
    // scores token-exactly AND the quantile_cont brackets (q39's proven
    // bit-parity) AND every bin.
    "q113_curriculum_bins" -> ((s, d) => {
      val w = (0 until 1024).map(j =>
        ((j.toLong * 2654435761L + 40503L) % 4294967296L).toDouble
          / 4294967296.0 - 0.5)
      val scored = operators.Corpus.hashedLinearScore(t(s, d, "documents"),
          col("doc_id"), col("text"), w)
        .select(col("doc_id"), col("mean_score"))
      val br = operators.Percentiles.exact(scored, lit(1), col("mean_score"),
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .select(col("p25"), col("p50"), col("p75"))
      scored.crossJoin(broadcast(br))
        .select(col("doc_id"), col("mean_score"),
          when(col("mean_score") < col("p25"), 0L)
            .when(col("mean_score") < col("p50"), 1L)
            .when(col("mean_score") < col("p75"), 2L)
            .otherwise(3L).as("bin"))
        .orderBy(col("doc_id"))
    }),

    // Streaming SCD2 ≡ batch ≡ oracle (CDC-style history maintenance): the
    // tape replayed in Update mode through flatMapGroupsWithState — each
    // change emits its CLOSED predecessor exactly once, the open run is
    // re-emitted per batch; `latest per (key, from_seq), closed supersedes
    // open` reconstructs the batch scd2 table exactly. No flush sentinel:
    // Update mode surfaces open intervals naturally.
    "q112_streaming_scd2" -> ((s, d) => {
      import s.implicits._
      val tape = ev(s, d)
        .select(col("user_id").as("key"), col("event_type").as("attr"),
          col("ts"), col("event_id").as("seq"))
        .as[graft.streaming.KeyedUpdate].collect()
        .toSeq.sortBy(e => (e.ts.getTime, e.seq))
      val raw = graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(
          graft.streaming.StreamingOps.scd2Stream(_))
      raw.groupBy(col("key"), col("valid_from_seq"))
        .agg(max_by(
          struct(col("attr"), col("valid_from_ts"), col("valid_to_ts"),
            col("is_current")),
          struct((!col("is_current")).as("closed"))).as("r"))
        .select(col("key"), col("r.attr").as("attr"),
          ntz(col("r.valid_from_ts")).as("valid_from_ts"), col("valid_from_seq"),
          ntz(col("r.valid_to_ts")).as("valid_to_ts"),
          col("r.is_current").as("is_current"))
        .orderBy(col("key"), col("valid_from_seq"))
    }),

    // Fixed-point PageRank (Graph.pagerank, 5 rounds, damping 85/100) over
    // the near-dup graph: the Pregel-shaped iterative join+agg loop with
    // ALL-INTEGER arithmetic (rank div deg shares, div-100 damping), so
    // sums are order-independent and the oracle reproduces every rank
    // exactly — pair generation AND all 5 rounds hash-gate.
    "q111_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b"))
      operators.Graph.pagerank(docs.select(col("doc_id")), pairs)
        .orderBy(col("doc_id"))
    }),

    // Streaming OHLC+VWAP bars ≡ batch ≡ oracle: the tape replayed in 4
    // micro-batches through ONE watermarked conditional aggregate (no
    // stream full-outer join — the batch reunion becomes when()-guarded
    // aggregation); a flush tick 2 bars past the tape's end closes every
    // real bar in Append mode, its own bar never closes.
    "q110_streaming_bars" -> ((s, d) => {
      import s.implicits._
      val tape = Pnl.eventsAsMarket(ev(s, d)).collect()
        .toSeq.sortBy(e => (e.ts.getTime, e.seq))
      val flush = graft.operators.MarketEvent(-1L,
        new java.sql.Timestamp(tape.last.ts.getTime + 2 * 3600 * 1000L),
        "__flush", "price", "", "", 0, 0.0)
      graft.streaming.MemoryReplay.replay(s, tape :+ flush, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.barsStream(ds.toDF(), "1 hour", "0 seconds")
            .as[graft.streaming.BarRow])
        .filter(col("hub") =!= "__flush")
        .orderBy(col("hub"), col("bucket_start_s"))
    }),

    // SCD2 history build (Scd.scd2): each user's event_type stream
    // collapsed into validity intervals — change detection (lag) + interval
    // closing (lead) over ONE key exchange + ONE sort (the filter preserves
    // distribution/order, so EnsureRequirements inserts nothing for the
    // second window). Open intervals keep NULL valid_to + is_current.
    "q109_scd2" -> ((s, d) =>
      operators.Scd.scd2(
          ev(s, d).select(col("user_id").as("key"),
            col("event_type").as("attr"), col("ts"), col("event_id").as("seq")))
        .select(col("key"), col("attr"),
          ntz(col("valid_from_ts")).as("valid_from_ts"), col("valid_from_seq"),
          ntz(col("valid_to_ts")).as("valid_to_ts"), col("is_current"))
        .orderBy(col("key"), col("valid_from_seq"))),

    // Ordered conversion funnel view → click → purchase (Behavior.funnel):
    // per-user earliest stage chain under the pinned (ts, seq) order —
    // three partial-aggregated struct arg-mins + user-keyed equi-joins, no
    // per-user sort or fold anywhere. Strictly-after rides the struct
    // comparison; the oracle mirrors it with named-struct ROW ordering.
    "q107_funnel" -> ((s, d) =>
      operators.Behavior.funnel(
          ev(s, d).select(col("user_id"), col("event_type"), col("ts"),
            col("event_id").as("seq")),
          "view", "click", "purchase")
        .select(col("user_id"),
          ntz(col("s1_ts")).as("s1_ts"), col("s1_seq"),
          ntz(col("s2_ts")).as("s2_ts"), col("s2_seq"),
          ntz(col("s3_ts")).as("s3_ts"), col("s3_seq"))
        .orderBy(col("user_id"))),

    // Weekly cohort retention (Behavior.retention): epoch-aligned cohort
    // week of each user's first event × active-week offsets, exact counts
    // and the retention ratio — the product-analytics rollup, all
    // user-keyed partial aggregates.
    "q108_retention" -> ((s, d) =>
      operators.Behavior.retention(
          ev(s, d).select(col("user_id"), col("ts")))
        .orderBy(col("cohort_week"), col("week_offset"))),

    // Passage-level exact dedup (Corpus.dedupPassages, arXiv:2107.06499's
    // ExactSubstr on fixed 8-token windows): cross-document repeated
    // passages removed (first (doc_id, pos) occurrence wins), docs
    // reassembled from survivors. Winner election groups by the portable
    // passage fingerprint — an 8-byte exchange with map-side partial
    // min(struct) — and the oracle recomputes hash, election, and
    // reassembly, so all three layers hash-gate.
    "q106_passage_dedup" -> ((s, d) =>
      operators.Corpus.dedupPassages(t(s, d, "documents"), col("doc_id"),
          col("text"))
        .orderBy(col("doc_id"))),

    // Streaming EWMA ≡ batch ≡ oracle: the tape replayed in 4 ordered
    // micro-batches through flatMapGroupsWithState carrying ONE double of
    // state per hub — same kernel as q104, gated on the same recursive CTE.
    "q105_streaming_ewma" -> ((s, d) => {
      import s.implicits._
      val tape = Pnl.eventsAsMarket(ev(s, d)).filter(_.kind == "price").collect()
        .toSeq.sortBy(e => (e.ts.getTime, e.seq))
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(
          graft.streaming.StreamingOps.ewmaStream(_, alpha = 0.25))
        .select(col("seq"), ntz(col("ts")).as("ts"), col("hub"),
          col("price_mwh"), col("ewma"))
        .orderBy(col("seq"))
    }),

    // Streaming tumbling-window aggregation in the gate (D13's streaming
    // twin): the events tape replayed in 4 ordered micro-batches through the
    // watermarked window plan. A sentinel tick 20 min past the tape's end
    // advances the watermark so every real window closes and appends in
    // OutputMode.Append; the sentinel's own window never closes, so it
    // cannot leak into the sink. Checked against the same epoch-aligned
    // GROUP BY oracle family as q14 — streaming ≡ batch for the
    // watermark/window machinery, inside the official gate.
    "q63_streaming_window" -> ((s, d) => {
      import s.implicits._
      val tape = ev(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[graft.streaming.TimedEvent].collect().toSeq
        .sortBy(e => (e.ts.getTime, e.event_id))
      val flush = graft.streaming.TimedEvent(-1L,
        new java.sql.Timestamp(tape.last.ts.getTime + 20 * 60 * 1000L),
        "__flush", 0.0)
      graft.streaming.MemoryReplay.replay(s, tape :+ flush, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.windowedAgg(ds.toDF(), "ts", "event_type",
            "value", "10 minutes", None, "0 seconds")
            .as[graft.streaming.WindowAggRow])
        .filter(col("event_type") =!= "__flush")
        .select(unix_timestamp(col("window_start")).as("bucket_start_s"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("bucket_start_s"), col("event_type"))
    }),

    // Per-source quota cap (training-data mixing): keep at most 20 docs per
    // source, chosen by the PORTABLE multiplicative hash of doc_id (same h
    // as Corpus.hashSample — re-runnable and engine-reproducible, unlike
    // rand()). graft_bottomk is the ascending twin of graft_topk: a bounded
    // ≤20-row buffer with map-side partial aggregation, so the exchange
    // carries ~20·sources rows at any corpus size — vs the oracle's full
    // row_number window, which would shuffle and sort the whole corpus.
    "q64_domain_quota" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // overflow-free split-multiply form (Corpus.portableHash): equals the
      // oracle's one-multiply spelling for fixture-sized ids, and never
      // overflows ANSI engines for large ones
      val h = Corpus.portableHash(col("doc_id")).cast("long")
      t(s, d, "documents").select(col("doc_id"), col("source"), h.as("h"))
        .groupBy(col("source"))
        .agg(call_function("graft_bottomk",
          struct(col("h"), col("doc_id")), lit(20)).as("keep"))
        .select(col("source"), posexplode(col("keep")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rn"),
          col("col.h").as("h"), col("col.doc_id").as("doc_id"))
        .orderBy(col("source"), col("rn"))
    }),

    // TF-IDF top-5 terms per doc (feature extraction): tf and df are pure
    // integer aggregates; the double idf = ln(N/df) is a VALUE column, never
    // the ranking key — ranking is (tf DESC, df ASC, term ASC), integers +
    // string, so the top-5 selection is bit-reproducible across engines and
    // the only double compared is the 6-dp-hashed score. Corpus size N is a
    // broadcast 1-row aggregate, not a driver count. The per-doc window
    // sorts groups bounded by document length (partition key = doc_id), so
    // no group outgrows a document at any corpus size.
    "q65_tfidf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tf = docs
        .select(col("doc_id"),
          explode(graft.functions.Text.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dft, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("rn").cast("long").as("rn"), col("term"),
          col("tf"), col("df"),
          (col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")))
            .as("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // Distributed k-means FIT (one full Lloyd update from the seeded
    // centroids, then re-assign): the clustering pass behind
    // cluster-then-sample corpus curation. assign is a broadcast-centroid
    // scan + partial-aggregated argmin; update's per-dimension means are
    // exact DECIMAL(28,12) sums through posexplode + map-side combine (the
    // exchange is O(k·dim·partitions), corpus-size-independent), so the new
    // centroids — and therefore every downstream distance — are
    // bit-identical to the oracle's unrolled-CTE replay of the same step.
    "q66_kmeans_fit" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      val cents0 = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      graft.operators.Kmeans.fitSummary(e, cents0, steps = 1)
    }),

    // Heavy hitters over the token stream via the Misra-Gries sketch
    // (graft_heavyhitters, k = 50): ≤ 50 counters per partition buffer, ≤ 50
    // rows per partition through the exchange — the vocabulary's fat tail
    // never shuffles (vs exact groupBy: one row per distinct token). The
    // sketch's estimates depend on merge order, so the GATE asserts its
    // order-independent guarantees against the exact counts, q44-style:
    // superset (every token with count > n/(k+1) present), underestimate
    // (est ≤ true, all items), bounded error (true − est ≤ n/(k+1)), and
    // size ≤ k. Oracle = literal TRUEs; any guarantee break turns the row.
    "q67_heavy_hitters" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val toks = t(s, d, "documents")
        .select(explode(graft.functions.Text.tokens(col("text"))).as("term"))
      val mg = toks
        .agg(call_function("graft_heavyhitters", col("term"), lit(50)).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("term"), col("e.est").as("est"))
      val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      // total tokens without a second explode: sum of per-doc token counts
      val tot = t(s, d, "documents")
        .agg(sum(size(graft.functions.Text.tokens(col("text"))))
          .cast("long").as("n_tok"))
      val joined = exact.join(mg, Seq("term"), "full_outer")
        .crossJoin(broadcast(tot))
      val thresh = col("n_tok").cast("double") / 51.0
      joined.agg(
          count(when(col("c").cast("double") > thresh && col("est").isNull, 1))
            .as("missed"),
          count(when(col("est").isNotNull && col("est") > col("c"), 1))
            .as("over"),
          count(when(col("est").isNotNull &&
            (col("c") - col("est")).cast("double") > thresh, 1)).as("loose"),
          count(col("est")).as("sz"))
        .select(explode(array(
          struct(lit("mg_superset").as("metric"), (col("missed") === 0).as("ok")),
          struct(lit("mg_underestimate").as("metric"), (col("over") === 0).as("ok")),
          struct(lit("mg_error_bound").as("metric"), (col("loose") === 0).as("ok")),
          struct(lit("mg_size_bound").as("metric"), (col("sz") <= 50).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // Streaming SESSION windows in the gate (the third streaming family
    // after q55's stateful fold and q63's tumbling windows): per-user
    // gap-30-min sessions over the events tape, replayed in 4 ordered
    // micro-batches so sessions genuinely split and MERGE across state
    // boundaries. The flush sentinel (user −1, 90 min past the end) drives
    // the watermark beyond every real session's end+gap so append mode
    // finalizes them; the sentinel's own session never closes. Oracle =
    // q35's gaps-and-islands SQL re-keyed — streaming ≡ batch for
    // session-window semantics inside the official gate.
    "q68_streaming_session" -> ((s, d) => {
      import s.implicits._
      val tape = ev(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .as[graft.streaming.UserEvent].collect().toSeq
        .sortBy(e => (e.ts.getTime, e.event_id))
      val flush = graft.streaming.UserEvent(-1L,
        new java.sql.Timestamp(tape.last.ts.getTime + 90 * 60 * 1000L), -1L, 0.0)
      graft.streaming.MemoryReplay.replay(s, tape :+ flush, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.sessionAgg(ds.toDF(), "ts", "user_id",
            "value", "30 minutes", "0 seconds")
            .as[graft.streaming.SessionAggRow])
        .filter(col("user_id") >= 0)
        .select(unix_timestamp(col("sess_start")).as("sess_start_s"),
          unix_timestamp(col("sess_end")).as("sess_end_s"),
          col("user_id"), col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("sess_start_s"))
    }),

    // The standard two-pass heavy-hitters pipeline on top of q67's sketch:
    // pass 1 sketches candidates (≤ k per partition through the exchange),
    // pass 2 exact-counts ONLY the ≤ k broadcast candidates via a semi join
    // — the vocabulary tail never shuffles in either pass. The MG superset
    // guarantee makes the final answer EXACT and merge-order-independent:
    // every token above n/(k+1) is guaranteed into the candidate set, so
    // filtering the exact counts at that threshold equals the full groupBy
    // — which is precisely what the oracle computes.
    "q69_heavy_hitters_exact" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val toks = t(s, d, "documents")
        .select(explode(graft.functions.Text.tokens(col("text"))).as("term"))
      val cand = toks
        .agg(call_function("graft_heavyhitters", col("term"), lit(50)).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("term"))
      val tot = t(s, d, "documents")
        .agg(sum(size(graft.functions.Text.tokens(col("text"))))
          .cast("long").as("n_tok"))
      toks.join(broadcast(cand), Seq("term"), "left_semi")
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(tot))
        .filter(col("c").cast("double") >
          col("n_tok").cast("double") / 51.0)
        .select(col("term"), col("c"))
        .orderBy(col("c").desc, col("term"))
    }),

    // Streaming SLIDING windows in the gate (q37's streaming twin): every
    // event lands in two 10-min/5-min-slide windows; the flush sentinel
    // (+20 min — past the last event's final window end) closes them all.
    // Same replay harness and oracle family as q63.
    "q70_streaming_sliding" -> ((s, d) => {
      import s.implicits._
      val tape = ev(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[graft.streaming.TimedEvent].collect().toSeq
        .sortBy(e => (e.ts.getTime, e.event_id))
      val flush = graft.streaming.TimedEvent(-1L,
        new java.sql.Timestamp(tape.last.ts.getTime + 20 * 60 * 1000L),
        "__flush", 0.0)
      graft.streaming.MemoryReplay.replay(s, tape :+ flush, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.windowedAgg(ds.toDF(), "ts", "event_type",
            "value", "10 minutes", Some("5 minutes"), "0 seconds")
            .as[graft.streaming.WindowAggRow])
        .filter(col("event_type") =!= "__flush")
        .select(unix_timestamp(col("window_start")).as("bucket_start_s"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("bucket_start_s"), col("event_type"))
    }),

    // Streaming stream-stream INTERVAL JOIN in the gate (the declarative
    // cousin of the PnL trade→recent-prices CoProcess): the market tape
    // split into its trade and price streams, replayed in index-lockstep
    // micro-batches through the watermarked interval join — each trade
    // pairs with the same-hub prices of the preceding 5 minutes. The
    // 10-min watermark delay is an eviction cushion only (inner-join
    // matches emit on arrival); the global watermark is the min across
    // both sources, so state outlives every still-possible match. Oracle =
    // the equivalent range-predicate self-join over the frozen mapping.
    "q71_streaming_interval_join" -> ((s, d) => {
      import s.implicits._
      val all = Pnl.eventsAsMarket(ev(s, d)).collect().toSeq
        .sortBy(e => (e.ts.getTime, e.seq))
      val trades = all.filter(_.kind == "trade")
      val prices = all.filter(_.kind == "price")
      graft.streaming.MemoryReplay.replay2(s, trades, prices, nBatches = 4, statePartitions = 4)(
          (tl, pr) => graft.streaming.StreamingOps.intervalJoinStream(
            tl.toDF().select(col("seq").as("t_seq"), col("ts").as("t_ts"),
              col("hub")),
            pr.toDF().select(col("seq").as("p_seq"), col("ts").as("p_ts"),
              col("hub").as("p_hub"), col("price_mwh").as("p_px")),
            leftKey = "hub", rightKey = "p_hub",
            leftTs = "t_ts", rightTs = "p_ts",
            lookbackSec = 300L, watermarkDelay = "10 minutes")
            .select(col("t_seq"), col("hub"), col("p_seq"), col("p_px"))
            .as[graft.streaming.IntervalPair])
        .orderBy(col("t_seq"), col("p_seq"))
    }),

    // Token-budgeted corpus sharding (training-file packing): docs in id
    // order, shard = floor(exclusive-prefix-sum(tokens) / budget). The
    // global prefix sum is a two-pass distributed scan (deterministic
    // id-proportional partitioner + per-partition subtotals + offset
    // broadcast — Corpus.packShards), NEVER a single-partition window; the
    // oracle's one-task cumsum window is exactly the plan this operator
    // exists to avoid at scale. All integers — bit-reproducible.
    "q72_pack_shards" -> ((s, d) =>
      Corpus.packShards(t(s, d, "documents"), col("doc_id"), col("text"),
          budgetTokens = 2000L)
        .orderBy(col("doc_id"))),

    // Denylist scrubbing (the PII-redaction shape: the fixture corpus has
    // no emails/phones, so the denylist stands in for the pattern bank):
    // every match replaced, per-doc hit count kept as the audit metric.
    // Pure codegen'd column map — no shuffle, scales with the scan. The
    // \b word-boundary subset of regex behaves identically in Java and
    // RE2, which is what makes the oracle comparable.
    "q73_redact" -> ((s, d) => {
      val pat = "\\b(customer|vector|stream)\\b"
      t(s, d, "documents").select(col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("long").as("n_hits"),
          regexp_replace(col("text"), pat, "[X]").as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup: a NEW batch (source src0) checked against the
    // standing corpus (every other source) for near-duplicates — the
    // "don't re-ingest what you already have" pipeline step. Candidates
    // come from the same verified MinHash-LSH band join as q23 (recall
    // ~1−1e-8, so the oracle can be the exact cross-source all-pairs);
    // production keeps the band index persisted and probes only the new
    // batch's buckets (StreamingOps.nearDupCandidatesStream IS that index,
    // maintained incrementally). Output: every src0 doc + is_dup flag.
    "q74_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
      val src = docs.select(col("doc_id"), col("source"))
      val flagged = pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
          Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
          Seq("doc_b"))
      val dupNew = flagged
        .filter(col("src_a") === "src0" && col("src_b") =!= "src0")
        .select(col("doc_a").as("doc_id"))
        .union(flagged
          .filter(col("src_b") === "src0" && col("src_a") =!= "src0")
          .select(col("doc_b").as("doc_id")))
        .distinct()
      docs.filter(col("source") === "src0").select(col("doc_id"))
        .join(dupNew.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // Sixth streaming family in the gate: the streaming near-dup BAND
    // INDEX (nearDupCandidatesStream — each LSH band bucket's state is the
    // inverted index, maintained incrementally). The corpus replayed in 4
    // micro-batches must emit, after dedup of the at-least-once stream,
    // EXACTLY the batch band join's candidate set — asserted as booleans
    // (covers ∧ subset ∧ non-empty) the oracle pins true. This is the
    // equality StreamingSpec proves, promoted into the official gate.
    "q75_streaming_neardup" -> ((s, d) => {
      import s.implicits._
      val docsDf = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tape = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
      val stream = graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(
          ds => graft.streaming.StreamingOps.nearDupCandidatesStream(
            ds.toDF("doc_id", "text"), "doc_id", "text"))
        .toDF("doc_a", "doc_b").distinct()
      val batch = Dedup.minhashLsh(docsDf, col("doc_id"), col("text"),
          threshold = 0.0)
        .select(col("doc_a"), col("doc_b"))
      batch.withColumn("b", lit(1))
        .join(stream.withColumn("st", lit(1)), Seq("doc_a", "doc_b"),
          "full_outer")
        .agg(
          count(when(col("b").isNotNull && col("st").isNull, 1)).as("missing"),
          count(when(col("st").isNotNull && col("b").isNull, 1)).as("extra"),
          count(col("b")).as("n_batch"))
        .select(explode(array(
          struct(lit("stream_covers_batch").as("metric"),
            (col("missing") === 0).as("ok")),
          struct(lit("stream_subset_of_batch").as("metric"),
            (col("extra") === 0).as("ok")),
          struct(lit("candidates_nonempty").as("metric"),
            (col("n_batch") > 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // TTL'd streaming band index (nearDupCandidatesStreamTtl): the
    // BOUNDED-STATE variant of q75 — "duplicate of anything in the last
    // TTL window", the contract production dedup actually runs. Tape: the
    // corpus in id order at 1 tick/second; ttl = n/4 seconds, chosen where
    // the fixture has candidate pairs BOTH inside the window (the stream
    // must emit them) and beyond it (it must NOT — evicted, the state
    // bound's proof) at every sf (measured in r13, inside/beyond pairs:
    // 15/13 at sf0.001, 9/16 at sf0.01, 127/129 at sf0.1). Batch twin: the q75 band join filtered
    // to |ts_a − ts_b| ≤ ttl. Equality + both-regimes-nonempty pinned as
    // booleans.
    "q192_streaming_neardup_ttl" -> ((s, d) => {
      import s.implicits._
      val docsDf = t(s, d, "documents").select(col("doc_id"), col("text"))
      val docs = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
      val n = docs.size
      val ttlMs = (n / 4).toLong * 1000L
      // ticks start at 1 s, NOT 0: the initial watermark is 0 ms and the
      // stateful operator's late-data filter drops rows at-or-before it —
      // a ts=0 first doc would silently never enter the band index
      val tape = docs.zipWithIndex.map { case ((id, text), i) =>
        (id, new java.sql.Timestamp((i + 1).toLong * 1000L), text)
      }
      // 4 micro-batches (the q75 convention): eviction is ARRIVAL-driven
      // (not batch-driven), so each batch spans a full TTL window and the
      // gate still exercises in-batch eviction, cross-batch eviction, and
      // cross-batch survival; 8 batches doubled replay overhead for no
      // extra semantics (bench: 7.5 s → ~4 s)
      val stream = graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(
          ds => graft.streaming.StreamingOps.nearDupCandidatesStreamTtl(
            ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
            ttlMs = ttlMs))
        .toDF("doc_a", "doc_b").distinct()
      val pos = s.createDataFrame(
          docs.zipWithIndex.map { case ((id, _), i) => (id, (i + 1).toLong * 1000L) })
        .toDF("doc_id", "ts_ms")
      val batchPairs = Dedup.minhashLsh(docsDf, col("doc_id"), col("text"),
          threshold = 0.0)
        .select(col("doc_a"), col("doc_b"))
        .join(broadcast(pos.select(col("doc_id").as("doc_a"),
          col("ts_ms").as("ta"))), Seq("doc_a"))
        .join(broadcast(pos.select(col("doc_id").as("doc_b"),
          col("ts_ms").as("tb"))), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (abs(col("ta") - col("tb")) <= ttlMs).as("within"))
      batchPairs.filter(col("within")).select(col("doc_a"), col("doc_b"))
        .withColumn("b", lit(1))
        .join(stream.withColumn("st", lit(1)), Seq("doc_a", "doc_b"),
          "full_outer")
        .agg(
          count(when(col("b").isNotNull && col("st").isNull, 1)).as("missing"),
          count(when(col("st").isNotNull && col("b").isNull, 1)).as("extra"),
          count(col("b")).as("n_within"))
        .crossJoin(batchPairs.agg(
          count(when(!col("within"), 1)).as("n_beyond")))
        .select(explode(array(
          struct(lit("stream_covers_ttl_batch").as("metric"),
            (col("missing") === 0).as("ok")),
          struct(lit("stream_subset_of_ttl_batch").as("metric"),
            (col("extra") === 0).as("ok")),
          struct(lit("ttl_window_nonempty").as("metric"),
            (col("n_within") > 0).as("ok")),
          struct(lit("ttl_expired_nonempty").as("metric"),
            (col("n_beyond") > 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // TTL'd streaming exact dedup (exactDedupStreamTtl): the BOUNDED-STATE
    // variant of q80 — a doc is a KEEPER iff no identical content arrived
    // within the trailing ttl of event time, every arrival REFRESHING the
    // window (sliding semantics). Unlike q192's pinned booleans this is a
    // REAL DuckDB oracle: the keeper set is exactly the lag-window SQL
    //   lag(ts) OVER (PARTITION BY content ORDER BY ts) IS NULL
    //   OR ts − lag(ts) > ttl.
    // Tape: base corpus at 2r s (r = id-order rank, n docs), plus two
    // deterministic re-emission regimes so both sides of the TTL are
    // non-empty at every sf (the q192 convention) — id % 5 = 0 re-emitted
    // 1 s after its base tick (1 s ≤ ttl = n/4 s → swallowed as a dup) and
    // id % 10 = 0 re-emitted at (3n + r) s (≥ 2n − 1 s past its last
    // occurrence > ttl → a second KEEPER row for that id). All ticks are
    // globally distinct (base even, in-window odd, far regime > 2n + 1),
    // and the oracle rebuilds the identical occurrence multiset from
    // row_number() over id order.
    "q193_streaming_dedup_ttl" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val n = docs.size
      val ttlMs = (n / 4).toLong * 1000L
      val tape = docs.zipWithIndex.flatMap { case ((id, text), i) =>
          val r = (i + 1).toLong
          Seq((id, 2L * r * 1000L, text)) ++
            (if (id % 5 == 0) Seq((id, (2L * r + 1L) * 1000L, text)) else Nil) ++
            (if (id % 10 == 0) Seq((id, (3L * n + r) * 1000L, text)) else Nil)
        }.sortBy(e => (e._2, e._1))
        .map { case (id, ms, text) => (id, new java.sql.Timestamp(ms), text) }
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.exactDedupStreamTtl(
            ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
            ttlMs = ttlMs))
        .toDF("doc_id")
        .orderBy(col("doc_id"))
    }),

    // Document CHUNKING (embedding prep): overlapping token windows of 50
    // with stride 40, one row per chunk — the split an embedding/indexing
    // stage runs before ANN. Pure codegen'd HOFs (sequence + posexplode +
    // slice): the explode multiplies rows ~len/stride ON the scan side with
    // no shuffle at all (the ORDER BY is gate-only); each slice references
    // the token array a constant number of times (the
    // [[spark-hof-projection-collapse]] O(n²) pitfall doesn't bite).
    "q77_chunk" -> ((s, d) => {
      val stride = 40
      val chunkLen = 50
      val base = t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("len"))
        .filter(col("len") > 0)
      base
        .select(col("doc_id"), col("toks"), col("len"),
          posexplode(sequence(lit(0L), expr("(len - 1) div 40"))))
        .select(col("doc_id"), col("col").cast("long").as("chunk_id"),
          least(lit(chunkLen.toLong),
            col("len") - col("col") * stride).as("n_tok"),
          concat_ws(" ",
            slice(col("toks"), (col("col") * stride + 1).cast("int"),
              lit(chunkLen))).as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Int8 scalar quantization of the embedding corpus (Quantize.quantize):
    // per-vector scale + codes as a pure codegen'd column map — the 4×
    // smaller at-rest/in-shuffle representation the quantized ANN path
    // scores against. The gate hashes integer code stats (exact, portable)
    // plus the 6-dp scale; the codec arithmetic (amax/127 scale,
    // floor(x/scale + 0.5) round-half-up codes) is mirrored op-for-op by
    // the oracle, so a codec drift of a single code flips the hash.
    "q78_quantize_int8" -> ((s, d) => {
      val q = Quantize.quantize(t(s, d, "embeddings"), col("vec_id"),
        col("embedding"))
      q.select(col("vec_id"), col("scale"),
          size(col("codes")).cast("long").as("n_dim"),
          aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("sum_code"),
          array_min(col("codes")).as("min_code"),
          array_max(col("codes")).as("max_code"),
          size(filter(col("codes"), _ === 0L)).cast("long").as("n_zero"))
        .orderBy(col("vec_id"))
    }),

    // Quantized-ANN quality gate (q44-style): int8-scored candidates with
    // 4× oversampling, exact-rescored, must recover ≥ 0.8 of brute force's
    // top-10 AND return bit-identical cosines on every overlapping pair
    // (the rescore runs the same graft_dot arithmetic) — the contract that
    // makes the 4×-smaller scan trustworthy.
    "q79_quantized_ann_quality" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val bf = Similarity.bruteForceKnn(e, col("vec_id") < 5, k = 10)
        .select(col("qid"), col("vec_id"), col("score"))
      val qz = Quantize.quantizedKnn(e, col("vec_id") < 5, k = 10)
        .select(col("qid"), col("vec_id"), col("score").as("score_q"))
      bf.join(qz, Seq("qid", "vec_id"), "full_outer")
        .agg(
          count(col("score")).as("t"),
          count(when(col("score").isNotNull && col("score_q").isNotNull, 1))
            .as("h"),
          count(when(col("score").isNotNull && col("score_q").isNotNull &&
            col("score") =!= col("score_q"), 1)).as("badscore"))
        .select(explode(array(
          struct(lit("int8_knn_recall10").as("metric"),
            (col("h") >= col("t") * 0.8).as("ok")),
          struct(lit("int8_scores_exact").as("metric"),
            (col("badscore") === 0).as("ok")),
          struct(lit("nonempty").as("metric"), (col("t") > 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // Seventh streaming family in the gate: streaming exact dedup by
    // content fingerprint (StreamingOps.exactDedupStream — state is the
    // dedup index, one long per distinct fingerprint). The id-ordered tape
    // replayed in 4 micro-batches must keep exactly the batch dedup's
    // canonical min-id-per-content set — the oracle recomputes it with a
    // plain GROUP BY over text.
    "q80_streaming_dedup" -> ((s, d) => {
      import s.implicits._
      val tape = t(s, d, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4)(ds =>
          graft.streaming.StreamingOps.exactDedupStream(
            ds.toDF("doc_id", "text"), "doc_id", "text"))
        .toDF("doc_id")
        .orderBy(col("doc_id"))
    }),

    // BM25 keyword scoring (Retrieval.bm25) — the lexical retrieval /
    // seed-query quality-filter op. Fixed 3-term query pivoted to columns
    // so the total is a FIXED-order double sum (s_spark + s_vector +
    // s_customer, left-assoc on both sides); nothing ranks by a double.
    "q81_bm25" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sc = Retrieval.bm25(docs, col("doc_id"), col("text"),
        Seq("spark", "vector", "customer"))
      val agg = sc.groupBy(col("doc_id")).agg(
        max(when(col("term") === "spark", col("score"))).as("s_spark"),
        max(when(col("term") === "vector", col("score"))).as("s_vector"),
        max(when(col("term") === "customer", col("score"))).as("s_customer"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("s_spark"), lit(0.0)).as("s_spark"),
          coalesce(col("s_vector"), lit(0.0)).as("s_vector"),
          coalesce(col("s_customer"), lit(0.0)).as("s_customer"))
        .withColumn("bm25",
          col("s_spark") + col("s_vector") + col("s_customer"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-based source mixing plan (Corpus.mixWeights, α = 0.5):
    // per-source √n weights normalized by an EXACT decimal sum, budget
    // allocation by largest-remainder rounding (Σ target_n == budget
    // exactly) — the domain-rebalancing step of training-data assembly as
    // one tiny oracle-checked aggregate.
    "q82_source_mix" -> ((s, d) =>
      Corpus.mixWeights(t(s, d, "documents"), col("source"), budget = 1000L)
        .orderBy(col("source"))),

    // Per-doc mean token surprisal under the add-one-smoothed corpus
    // unigram LM (Corpus.unigramSurprisal) — the perplexity-style quality
    // score. Per-token ln rounded to 6 dp and summed as DECIMAL, so the
    // per-doc mean is independent of aggregation order on both engines.
    "q83_unigram_lm" -> ((s, d) =>
      Corpus.unigramSurprisal(t(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    // PQ-ANN quality gate (q79's pattern, one rung deeper): product
    // quantization — 8 subspaces × 256-centroid codebooks, asymmetric-
    // distance LUT scoring (the IVF-PQ inner loop), 16× oversample, exact
    // rescore. Codes are 64× smaller than the vectors (8 B vs 512 B);
    // recall@10 ≥ 0.6 + bit-identical rescored scores, oracle-pinned
    // (measured 0.92-1.00 across sf — Quantize.pqKnn doc).
    "q86_pq_ann_quality" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val bf = Similarity.bruteForceKnn(e, col("vec_id") < 5, k = 10)
        .select(col("qid"), col("vec_id"), col("score"))
      val pq = Quantize.pqKnn(e, col("vec_id") < 5, k = 10)
        .select(col("qid"), col("vec_id"), col("score").as("score_q"))
      bf.join(pq, Seq("qid", "vec_id"), "full_outer")
        .agg(
          count(col("score")).as("t"),
          count(when(col("score").isNotNull && col("score_q").isNotNull, 1))
            .as("h"),
          count(when(col("score").isNotNull && col("score_q").isNotNull &&
            col("score") =!= col("score_q"), 1)).as("badscore"))
        .select(explode(array(
          struct(lit("pq_knn_recall10").as("metric"),
            (col("h") >= col("t") * 0.6).as("ok")),
          struct(lit("pq_scores_exact").as("metric"),
            (col("badscore") === 0).as("ok")),
          struct(lit("pq_nonempty").as("metric"), (col("t") > 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // IVF-PQ quality gate (q86's pattern on the full composition): coarse
    // quantizer prunes the scan to nprobe/cells of the corpus, PQ codes +
    // LUT scoring inside the probed cells, exact rescore. Four booleans:
    // recall@10 ≥ 0.3 vs brute force (measured 0.52-0.68 at nprobe=16
    // across sf — the coarse quantizer limits recall on this near-uniform
    // fixture, see Quantize.ivfPqKnn doc), rescored scores bit-identical,
    // non-emptiness, and recall within 0.1 of plain ivfKnn at the SAME
    // nprobe. Both indexes use one coarse quantizer (Similarity
    // .coarseCells), so that gap is the PQ stage's own loss, the price of
    // the 64× code compression.
    "q97_ivfpq_ann_quality" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val bf = Similarity.bruteForceKnn(e, col("vec_id") < 5, k = 10)
        .select(col("qid"), col("vec_id"), col("score"))
      val ivfpq = Quantize.ivfPqKnn(e, col("vec_id") < 5, k = 10, nprobe = 16)
        .select(col("qid"), col("vec_id"), col("score").as("score_q"))
      val ivf = Similarity.ivfKnn(e, col("vec_id") < 5, k = 10, nprobe = 16)
        .select(col("qid"), col("vec_id"), lit(1).as("ivf_hit"))
      bf.join(ivfpq, Seq("qid", "vec_id"), "full_outer")
        .join(ivf, Seq("qid", "vec_id"), "left")
        .agg(
          count(col("score")).as("t"),
          count(when(col("score").isNotNull && col("score_q").isNotNull, 1))
            .as("h"),
          count(when(col("score").isNotNull && col("ivf_hit").isNotNull, 1))
            .as("h_ivf"),
          count(when(col("score").isNotNull && col("score_q").isNotNull &&
            col("score") =!= col("score_q"), 1)).as("badscore"))
        .select(explode(array(
          struct(lit("ivfpq_knn_recall10").as("metric"),
            (col("h") >= col("t") * 0.3).as("ok")),
          struct(lit("ivfpq_no_pq_stage_loss").as("metric"),
            (col("h") >= col("h_ivf") - col("t") * 0.1).as("ok")),
          struct(lit("ivfpq_nonempty").as("metric"), (col("t") > 0).as("ok")),
          struct(lit("ivfpq_scores_exact").as("metric"),
            (col("badscore") === 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // JSONL round-trip (the reference's wire format is JSON — README.md:147
    // "producers currently publish JSON"): write the documents table as
    // JSON lines, read it back through spark.read with an explicit schema
    // (schema-on-read, no inference job), hash-match the parquet original —
    // gating the JSON codec path end-to-end, string escaping included.
    "q84_jsonl_roundtrip" -> ((s, d) => {
      val out = rtDir(s, d, "jsonl")
      t(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
        .write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, source STRING, text STRING").json(out)
        .orderBy(col("doc_id"))
    }),

    // Count-min sketch quality gate (graft_cms/graft_cms_est — the
    // point-frequency companion to q67's Misra-Gries): the corpus token
    // stream sketched into 4×16384 counters (collected once, probed as a
    // literal — the Bloom/centroid constant pattern), estimates checked
    // against exact counts for EVERY distinct token: never an
    // underestimate (structural), overcount ≤ 4·N/width (measured slack
    // on the e·N/width expectation), non-empty.
    "q96_cms_quality" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val depth = 4
      val width = 16384
      val toks = t(s, d, "documents")
        .select(explode(graft.functions.Text.tokens(col("text"))).as("term"))
        .select(xxhash64(col("term")).as("tk"))
      val sketch: Array[Byte] = toks
        .agg(call_function("graft_cms", col("tk"), lit(depth), lit(width)))
        .head().getAs[Array[Byte]](0)
      toks.groupBy(col("tk")).agg(count(lit(1)).as("c"))
        .select(col("tk"), col("c"),
          call_function("graft_cms_est", lit(sketch), col("tk")).as("est"))
        .agg(
          count(when(col("est") < col("c"), 1)).as("under"),
          max(col("est") - col("c")).as("max_over"),
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_terms"))
        .select(explode(array(
          struct(lit("cms_no_underestimate").as("metric"),
            (col("under") === 0).as("ok")),
          struct(lit("cms_overcount_bounded").as("metric"),
            (col("max_over").cast("double") <=
              col("n_tok").cast("double") * 4.0 / width).as("ok")),
          struct(lit("cms_nonempty").as("metric"), (col("n_terms") > 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // Deterministic weighted sampling (Corpus.weightedSample — E-S A-Res
    // keyed by the portable hash, doc length as the weight): longer docs
    // proportionally likelier, selection auditable and engine-identical;
    // bounded graft_topk selection, never a full sort.
    "q95_weighted_sample" -> ((s, d) =>
      Corpus.weightedSample(t(s, d, "documents"), col("doc_id"),
        length(col("text")), k = 50)),

    // Deterministic train/val/test split (Corpus.splitAssign): the
    // portable hash against cumulative 0.8/0.1/0.1 thresholds — every
    // rebuild (and every engine) puts each doc in the SAME split, the
    // property that keeps eval sets stable; rand() splits reshuffle.
    "q94_train_split" -> ((s, d) =>
      Corpus.splitAssign(t(s, d, "documents"), col("doc_id"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy(col("id"))),

    // Z-order clustering key (Warehouse.zValue/scaleToBits): user_id and
    // value min/max-scaled to 16-bit ints, bits interleaved — sorting by
    // the result gives 2-d locality, so parquet footer min/max on BOTH
    // columns turn box predicates into file skips (the Delta/Iceberg
    // OPTIMIZE ZORDER key; skip effect asserted on real footers in
    // WarehouseSpec). Pure shift/mask arithmetic, mirrored bit-for-bit by
    // the oracle.
    "q93_zorder_key" -> ((s, d) => {
      val e = ev(s, d)
      val r = e.agg(min(col("user_id").cast("double")),
        max(col("user_id").cast("double")),
        min(col("value")), max(col("value"))).head()
      val za = graft.sources.Warehouse.scaleToBits(col("user_id"),
        r.getDouble(0), r.getDouble(1))
      val zb = graft.sources.Warehouse.scaleToBits(col("value"),
        r.getDouble(2), r.getDouble(3))
      e.select(col("event_id"), za.as("za"), zb.as("zb"),
          graft.sources.Warehouse.zValue(za, zb).as("z"))
        .orderBy(col("event_id"))
    }),

    // Bloom-filter decontamination gate: the train shingle set collapsed
    // to a 512 KB graft_bloom sketch (corpus-size-independent broadcast;
    // bitwise-OR merge is order-independent) probed by a pure map on the
    // eval side — no join. One-sided error, asserted against the exact
    // inverted-index pass (q58's operator) as oracle booleans: no eval
    // doc loses a hit (no false negatives), every exactly-contaminated
    // doc stays flagged, and the false-positive inflation stays under 2%
    // of probes at the 2²²-bit sizing.
    "q92_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val exact = Corpus.decontaminate(docs, col("doc_id"), col("text"),
          evalPred = col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_sh"), col("n_hit").as("x_hit"),
          col("contaminated").as("x_flag"))
      val bloom = Corpus.decontaminateBloom(docs, col("doc_id"), col("text"),
          evalPred = col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_hit").as("b_hit"),
          col("contaminated").as("b_flag"))
      exact.join(bloom, Seq("doc_id"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("b_hit") < col("x_hit"), 1)).as("lost"),
          count(when(col("x_flag") && !col("b_flag"), 1)).as("unflagged"),
          sum(col("b_hit") - col("x_hit")).as("extra"),
          sum(col("n_sh") - col("x_hit")).as("clean"))
        .select(explode(array(
          struct(lit("bloom_no_false_negatives").as("metric"),
            (col("lost") === 0).as("ok")),
          struct(lit("bloom_flags_superset").as("metric"),
            (col("unflagged") === 0).as("ok")),
          struct(lit("bloom_fpp_under_2pct").as("metric"),
            (col("extra") <= col("clean") * 0.02).as("ok")),
          struct(lit("bloom_nonempty").as("metric"), (col("n") > 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    }),

    // CSV round-trip (header + explicit schema — no inference job): the
    // interchange format every ingestion surface still meets. The fixture
    // text is space-separated tokens, so the quoting path stays trivial —
    // the gate covers the codec wiring, not quote-escaping corners (those
    // live in Spark itself).
    "q90_csv_roundtrip" -> ((s, d) => {
      val out = rtDir(s, d, "csv")
      t(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema("doc_id LONG, source STRING, text STRING")
        .option("header", "true").csv(out)
        .orderBy(col("doc_id"))
    }),

    // ORC round-trip — the second columnar format (schema preserved in the
    // file footer, so read back with no schema hint).
    "q91_orc_roundtrip" -> ((s, d) => {
      val out = rtDir(s, d, "orc")
      t(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(col("doc_id"))
    }),

    // Eighth streaming family in the gate, and the first UPDATE-mode one:
    // the reference's DISTINCT ON live view (R1/R3) maintained
    // incrementally by latestPerGroupStream (mapGroupsWithState — state is
    // one row per key). The price tape replayed in 4 micro-batches emits
    // per-batch updates; the update stream's max-(ts,seq) row per hub must
    // equal the batch latest-per-group — and since the true latest is
    // necessarily the stream's LAST emission for its key, this pins both
    // that it was emitted and that nothing later displaced it.
    "q85_streaming_latest" -> ((s, d) => {
      import s.implicits._
      val tape = Pnl.eventsAsMarket(ev(s, d)).filter(_.kind == "price")
        .collect().toSeq.sortBy(e => (e.ts.getTime, e.seq))
      val sink = graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(ds =>
        graft.streaming.StreamingOps.latestPerGroupStream(ds,
          (e: graft.operators.MarketEvent) => e.hub,
          (e: graft.operators.MarketEvent) => (e.ts.getTime, e.seq)))
      sink.groupBy(col("hub"))
        .agg(max_by(struct(col("seq"), col("ts"), col("price_mwh")),
          struct(col("ts"), col("seq"))).as("m"))
        .select(col("hub"), col("m.seq").as("seq"), ntz(col("m.ts")).as("ts"),
          col("m.price_mwh").as("price_mwh"))
        .orderBy(col("hub"))
    }),

    // The SQL entry path exercising the INJECTED native function surface:
    // a pure-SQL user (spark.sql over temp views, GraftExtensions
    // registration) writes graft_topk + LATERAL VIEW posexplode and gets
    // the same bounded-buffer plan as the DataFrame API — proving the
    // extension functions are first-class SQL, not Scala-only.
    "q76_sql_native_funcs" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      ev(s, d).createOrReplaceTempView("v_events")
      s.sql("""
        WITH t AS (SELECT user_id, graft_topk(struct(ts, event_id, value), 3) AS top
                   FROM v_events GROUP BY user_id)
        SELECT user_id, CAST(pos + 1 AS BIGINT) AS rn,
               c.ts AS ts, c.event_id AS event_id, c.value AS value
        FROM t LATERAL VIEW posexplode(top) x AS pos, c
        ORDER BY user_id, rn""")
    }),

    // latest-3 per user via graft_topk — the bounded-buffer aggregate
    // replacement for row_number() <= k: partial aggregation means the
    // exchange carries ≤ k rows per group per partition, no full-group sort
    "q41_topk_per_group" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      ev(s, d).groupBy(col("user_id"))
        .agg(call_function("graft_topk",
          struct(col("ts"), col("event_id"), col("value")), lit(3)).as("top"))
        .select(col("user_id"), posexplode(col("top")))
        .select(col("user_id"), (col("pos") + 1).cast("long").as("rn"),
          col("col.ts").as("ts"), col("col.event_id").as("event_id"),
          col("col.value").as("value"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // TPC-H Q4 shape (order priority checking; late-shipment adaptation —
    // the fixtures carry no l_commitdate/l_receiptdate, so "late" is
    // l_shipdate > o_orderdate + 30 days). The EXISTS subquery is a LEFT
    // SEMI join whose condition spans both sides, so the engine dedups
    // lineitem matches inside the join instead of distinct-ing after; the
    // quarter filter reaches the orders scan pushed.
    "q148_tpch_q4" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))),

    // TPC-H Q7 shape (volume shipping between two nations): the nation
    // filter is applied INSIDE the supplier/customer dim frames before the
    // fact join — both dims shrink to the two nations' keys and broadcast,
    // so the big lineitem⋈orders join only carries qualifying rows; the
    // asymmetric pair condition is the one post-join filter.
    "q149_tpch_q7" -> ((s, d) => {
      val nat = t(s, d, "nation")
        .filter(col("n_name").isin("NATION_3", "NATION_7"))
      val sn = t(s, d, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = t(s, d, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape (national market share): all-region revenue for one
    // part type over two years, the target nation's share per year via a
    // conditional sum over the SAME aggregate pass — no second scan. The
    // customer-side region membership prunes through broadcast dims; the
    // supplier nation rides along as the CASE discriminator.
    "q150_tpch_q8" -> ((s, d) => {
      val amCust = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppNat = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val dec = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(amCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_5", dec)
              .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
          / sum(dec).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9 shape (product-type profit; cost adaptation — the fixtures
    // carry no partsupp/ps_supplycost, so unit cost is 0.6·p_retailprice).
    // Per-row profit is decimal-cast BEFORE the sum so the hash gate never
    // sees float summation order; part (name-filtered) and the supplier
    // nation map broadcast; the only big shuffle is the final group-by.
    "q151_tpch_q9" -> ((s, d) => {
      val redPart = t(s, d, "part").filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppNat = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, d, "lineitem")
        .join(broadcast(redPart), col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - lit(0.6) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(18,6)")).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape (important stock; adapted — no partsupp, so a part's
    // "value" is its lineitem revenue through EUROPE-region suppliers).
    // The scalar threshold (0.1% of total) comes from re-aggregating the
    // per-part frame — KBs — and broadcasts as a 1-row cross join; the
    // fact table is scanned once.
    "q152_tpch_q11" -> ((s, d) => {
      val euSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"))
      val vals = t(s, d, "lineitem")
        .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("value_dec"))
      val thr = vals.agg((sum(col("value_dec")).cast("double") * 0.001).as("thr"))
      vals.crossJoin(broadcast(thr))
        .filter(col("value_dec").cast("double") > col("thr"))
        .select(col("l_partkey"), col("value_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // TPC-H Q12 shape (shipping-priority classification; adapted — no
    // l_shipmode/commit/receipt dates, so the group key is l_returnflag
    // and "late" is l_shipdate > o_orderdate + 45 days). The CASE pair
    // splits urgent vs other priorities in one conditional-agg pass.
    "q153_tpch_q12" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))),

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    // with the priority predicate INSIDE the join condition (not a WHERE —
    // that would turn the outer join inner and drop zero-order customers),
    // per-customer count of matches, then a histogram of those counts.
    // Two shuffles by construction: custkey, then c_count.
    "q154_tpch_q13" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") =!= "5-LOW"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier, the
    // max-revenue scalar re-aggregated from that SAME frame and broadcast
    // back as a 1-row cross join; equality on the double is exact because
    // both sides carry the identical decimal-sum → double value. The
    // explicit isNotNull on the key mirrors the filter the later supplier
    // join pushes into the other branch — with both branches canonically
    // identical, AQE REUSES the groupBy exchange and the fact is scanned
    // once (JoinsSpec asserts ReusedExchange on the executed plan).
    "q155_tpch_q15" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp")
          && col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("max_rev"))
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q16 shape (part/supplier relationship; adapted — no partsupp,
    // so the supplier-part relation is DISTINCT lineitem pairs; no
    // s_comment, so the exclusion set is negative-balance suppliers). The
    // anti join's build side is the tiny exclusion list, broadcast; part
    // attribute filters push to the broadcast dim.
    "q156_tpch_q16" -> ((s, d) => {
      val badSupp = t(s, d, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val pairs = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      pairs.join(broadcast(t(s, d, "part")
            .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO"
              && col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // per-part average becomes a WINDOW avg over the brand-filtered
    // broadcast-join frame, partitioned by partkey — ONE fact scan and one
    // exchange of only the brand-matched rows (a re-join spelling would
    // scan the fact twice; partition sizes are |lineitems per part|,
    // bounded). Quantities are integer-valued doubles, so the avg is
    // exact in any order and the window avg equals the groupBy avg.
    "q157_tpch_q17" -> ((s, d) => {
      val pk = t(s, d, "part")
        .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      t(s, d, "lineitem")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .withColumn("q_thresh",
          lit(0.2) * avg(col("l_quantity")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("l_quantity") < col("q_thresh"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
          / 7.0).as("avg_yearly"))
    }),

    // TPC-H Q20 shape (potential part promotion; adapted — no
    // ps_availqty, so a supplier qualifies by having shipped > 30 units of
    // some red part in 1996). Nested semi joins: shipped (partkey,
    // suppkey) volumes → semi vs red parts → distinct suppkeys → semi into
    // the ASIA supplier dim. Each stage shrinks before the next join.
    "q158_tpch_q20" -> ((s, d) => {
      val redPk = t(s, d, "part").filter(col("p_name").contains("red"))
        .select(col("p_partkey"))
      val qualSupp = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 30)
        .join(broadcast(redPk), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_suppkey")).distinct()
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(qualSupp), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting; adapted — "late"
    // is l_shipdate > o_orderdate + 60 days on F-status orders). The
    // classic double correlation: EXISTS another supplier in the same
    // order (semi join) AND NOT EXISTS another LATE supplier in the same
    // order (anti join against the late frame itself, re-aliased). Both
    // correlations key on l_orderkey, so the three joins share one
    // exchange footprint.
    "q159_tpch_q21" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = li
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val others = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val lateOthers = late.select(col("l_orderkey").as("k3"),
        col("l_suppkey").as("s3"))
      late
        .join(others, col("k2") === col("l_orderkey")
          && col("s2") =!= col("l_suppkey"), "left_semi")
        .join(lateOthers, col("k3") === col("l_orderkey")
          && col("s3") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(t(s, d, "supplier")
            .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
            .join(broadcast(t(s, d, "region").filter(col("r_name") === "AMERICA")),
              col("n_regionkey") === col("r_regionkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    }),

    // TPC-H Q2 shape (minimum-cost supplier; adapted — no
    // ps_supplycost, so a supplier's unit cost for a part is the MINIMUM
    // observed l_extendedprice/l_quantity across its lineitems). The
    // correlated min-subquery becomes: per-(part, supplier) unit costs →
    // restrict to EUROPE suppliers → per-part min re-aggregated from that
    // SAME frame and joined back on (partkey, exact min) — one fact scan,
    // dims broadcast, the part attribute filter pushed into the broadcast.
    "q160_tpch_q2" -> ((s, d) => {
      val euSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val wantPart = t(s, d, "part")
        .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")
        .select(col("p_partkey"), col("p_type"))
      val cost = t(s, d, "lineitem")
        .join(broadcast(wantPart), col("l_partkey") === col("p_partkey"))
        .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_type"), col("l_suppkey"),
          col("s_name"), col("s_acctbal"), col("n_name"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("ucost"))
      val mn = cost.groupBy(col("p_partkey").as("m_partkey"))
        .agg(min(col("ucost")).as("mcost"))
      cost.join(broadcast(mn), col("p_partkey") === col("m_partkey")
          && col("ucost") === col("mcost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"), col("ucost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey")).limit(100)
    }),

    // Bloom-prefiltered fact⋈dim join (Joins.bloomPrefilterJoin): the dim
    // (one month's URGENT orders) is sketched into a Bloom literal and the
    // fact is filtered BEFORE its shuffle — only might-match rows enter
    // the exchange; the exact equi-join then drops false positives, so
    // the result is IDENTICAL to the plain join (plain-join oracle, full
    // hash gate). The merge hint models the 100 TB case where the dim is
    // too big to broadcast as a hash relation but its 512 KB sketch
    // isn't. JoinsSpec asserts the probe filter sits under the join and
    // that it actually prunes.
    "q161_bloom_join" -> ((s, d) => {
      val dim = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-08-01").cast("timestamp")
          && col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      Joins.bloomPrefilterJoin(t(s, d, "lineitem"), dim.hint("merge"),
          "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // 6-round 2-core peel of the near-dup graph (Graph.kCore): the
    // iterative-delete fixpoint — each round drops degree-<2 nodes and
    // their edges, work monotonically shrinking. Separates tight template
    // clusters (cycles survive) from pendant near-dup chains (peeled).
    // The oracle unrolls the identical 6 rounds over the shared exact
    // pair set; set-valued and exact, so the gate is a full hash match.
    "q165_kcore" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b"))
      operators.Graph.kCore(pairs, k = 2, rounds = 6)
        .orderBy(col("doc_id"))
    }),

    // PII redaction gate (Redact.scrub over Redact.plantPii): deterministic
    // synthetic emails / E.164 phones / IPv4s planted into the corpus
    // (verified PII-free at every sf — zero accidental bank matches) by
    // doc_id modulus rules, swept by the RE2-safe pattern bank, audited per
    // source. The ORACLE NEVER RUNS A REGEX — it predicts every count
    // arithmetically from the planting rule, so a false positive or false
    // negative anywhere in the bank (or an incomplete replacement, via
    // n_residual ≡ 0) breaks the hash gate exactly. Scan-side codegen'd
    // column maps + one 20-row partial-agg exchange — redaction at 100 TB
    // is corpus-read-bound by construction.
    "q166_redact_pii" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val planted = docs.select(col("doc_id"), col("source"),
        operators.Redact.plantPii(col("doc_id"), col("text")).as("ptext"))
      operators.Redact.scrub(planted, col("doc_id"), col("ptext"), col("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("n_email"),
          sum(col("n_phone")).as("n_phone"),
          sum(col("n_ipv4")).as("n_ipv4"),
          sum(col("n_residual")).as("n_residual"))
        .orderBy(col("source"))
    }),

    // Training-window chunk plan (Corpus.chunkPlan): every document split
    // into 32-token windows with 8-token overlap (sized so the fixture
    // docs, max 100 tokens, genuinely split 1-5 ways) — the context-window
    // packing step between curation and training. Pure per-doc integer
    // arithmetic + sequence-explode, scan-side (no shuffle, no window
    // function); the oracle replays the same ceil arithmetic over
    // generate_series. All integers, bit-reproducible.
    "q167_chunk_plan" -> ((s, d) =>
      Corpus.chunkPlan(t(s, d, "documents"), col("doc_id"), col("text"),
          chunkTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Snapshot diff (Snapshots.diff): the data-versioning audit between
    // two corpus cuts — old = documents; new = a deterministic mutation
    // (drop id≡3 mod 17, append ' v2' to id≡0 mod 5, add id+10⁶ copies of
    // id≡0 mod 23). Each side reduces to (id, md5) on the scan (~48 B/doc
    // exchanged, the Dedup.exact fingerprint discipline) and one
    // full-outer id join classifies added/removed/changed/unchanged; the
    // oracle builds the identical mutation and predicts the same statuses.
    "q168_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      operators.Snapshots.diff(oldSnap, newSnap, col("doc_id"), col("text"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // Cohen's kappa (Eval.cohensKappa): chance-corrected agreement between
    // the reference labels and a deterministically perturbed rater (labels
    // shifted for vec_id≡0 mod 7) — the annotation-audit statistic. All-
    // integer closed form in DECIMAL(38,0); hashed output all-BIGINT
    // (n/n_agree/kappa_micro — the q116/q121 type discipline).
    "q169_cohens_kappa" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      operators.Eval.cohensKappa(
        e.select(col("label").as("a"),
          when(col("vec_id") % 7 === 0, (col("label") + 1) % 10)
            .otherwise(col("label")).as("b")),
        col("a"), col("b"))
    }),

    // Edit-distance dup verification: the LSH near-dup candidates (q23's
    // verified pair set) re-verified by LEVENSHTEIN distance ≤ 6 — the
    // small-edit dup detector (shingle Jaccard sees token overlap;
    // character edit distance catches the one-typo-apart pairs a
    // token-level metric over-merges or misses). levenshtein is a
    // codegen'd built-in in Spark and identically defined (unit-cost
    // integer DP) in the oracle engine. COST contract: the O(len²)
    // distance runs ONLY on candidate pairs — the band join keeps those
    // sparse; never all-pairs.
    // Tick-gap audit (Sequential.tickGapAudit): per event stream, the
    // missing-interval report a feed operator trusts before a tape —
    // (n_ticks, span, max gap, gaps over 30 min). NOT a per-key lag window
    // (one reducer per key at 100 TB): the two-pass sorted-range-partition
    // idiom — a key's history spans many partitions, each fragment folds
    // to O(1) state, fragments stitch on a KB-sized summary frame. Gaps
    // are ts-deltas, so equal-ts ties are order-invariant. All BIGINT.
    "q176_tick_gaps" -> ((s, d) =>
      operators.Sequential.tickGapAudit(ev(s, d), col("event_type"),
          unix_micros(col("ts")), col("event_id"), thresholdUs = 1800000000L)
        .select(col("k").as("event_type"), col("n_ticks"), col("span_us"),
          col("max_gap_us"), col("n_gaps_gt"))
        .orderBy(col("event_type"))),

    // Max drawdown per stream (Sequential.maxDrawdown): largest
    // peak-to-trough drop of the value series in integer cents
    // (floor(value·100) — one IEEE multiply + floor, engine-exact), under
    // the pinned (ts, seq) order. Same two-pass fragment machinery; the
    // seam algebra is best = max(inside-a, inside-b, a.max − b.min).
    "q184_drawdown" -> ((s, d) =>
      operators.Sequential.maxDrawdown(ev(s, d), col("event_type"),
          unix_micros(col("ts")), col("event_id"),
          floor(col("value") * 100).cast("long"))
        .select(col("k").as("event_type"), col("n_ticks"), col("max_cents"),
          col("min_cents"), col("max_drawdown_cents"))
        .orderBy(col("event_type"))),

    // Source vocabulary-overlap matrix: pairwise Jaccard of the DISTINCT
    // token sets — the corpus-redundancy planner (two sources sharing 90%
    // vocabulary probably need one cleaning config, not two). The
    // exchange is the distinct (source, token) frame (vocab-sized, never
    // documents); token-keyed self-join, partial-agg rollup; jaccard as
    // IntRatio micro over |∩| and |∪| = |A|+|B|−|∩|. All BIGINT/STRING.
    "q190_vocab_overlap" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val toks = t(s, d, "documents")
        .select(col("source"),
          explode(graft.functions.Text.tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = toks.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      toks.as("a")
        .join(toks.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("nv").as("nv_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("nv").as("nv_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_common"), col("nv_a"),
          col("nv_b"),
          col("n_common").cast(d38).as("j_num"),
          (col("nv_a") + col("nv_b") - col("n_common")).cast(d38).as("j_den"))
        .select(col("src_a"), col("src_b"), col("n_common"), col("nv_a"),
          col("nv_b"),
          graft.functions.IntRatio.micro("j_num", "j_den").as("jaccard_micro"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Distinctive terms by integer relative risk: which tokens
    // characterize src0 against the rest — rr = (c_a/n_a)/(c_b/n_b)
    // computed as the CROSS-MULTIPLIED integer micro (c_a·n_b over
    // c_b·n_a: no division, no double, exact at any scale), min-support
    // c_a ≥ 5 and c_b ≥ 1, top 20 by (rr desc, token asc) — pinned total
    // order. One token-count scan + a 1-row totals broadcast.
    "q191_distinctive_terms" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val tc = t(s, d, "documents")
        .select(when(col("source") === "src0", 1L).otherwise(0L).as("in_a"),
          explode(graft.functions.Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(sum(col("in_a")).as("ca"),
          (count(lit(1)) - sum(col("in_a"))).as("cb"))
      val totals = tc.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      tc.crossJoin(broadcast(totals))
        .filter(col("ca") >= 5 && col("cb") >= 1)
        .select(col("tok"), col("ca"), col("cb"),
          (col("ca").cast(d38) * col("nb").cast(d38)).as("rr_num"),
          (col("cb").cast(d38) * col("na").cast(d38)).as("rr_den"))
        .select(col("tok"), col("ca"), col("cb"),
          graft.functions.IntRatio.micro("rr_num", "rr_den").as("rr_micro"))
        .orderBy(col("rr_micro").desc, col("tok"))
        .limit(20)
    }),

    // Self-join-size audit (second frequency moment F₂ = Σ c_k²): the
    // join-bomb detector — the EXACT row count a self-equi-join on this
    // key would produce, read before anyone runs it (the q181 Gini says
    // "skewed"; this says "that join is 2·10⁷ rows"). One partial-agg'd
    // groupBy + a 1-row rollup; all BIGINT (Σc² fits Long far past the
    // probe scales; the DECIMAL(38,0) internal form is the overflow
    // headroom).
    "q189_join_fanout" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      t(s, d, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
          max(col("c")).as("max_count"),
          sum(col("c").cast(d38) * col("c").cast(d38)).cast(d38).as("sj"))
        .select(col("n_keys"), col("n_rows"), col("max_count"),
          col("sj").cast("long").as("self_join_rows"))
    }),

    // Conversion-lag percentiles: the funnel TIMING audit (q107 counts
    // who converts; this measures how fast) — per user, first view →
    // first subsequent purchase, lag in exact integer µs; p50/p90 via the
    // bounded-memory Percentiles.exact (quantile_cont type-7 equivalence,
    // the q39 gate discipline). Per-user aggs + one user-keyed join; the
    // percentile passes scan the KB-sized lag frame.
    "q188_conversion_lag" -> ((s, d) => {
      val e = ev(s, d)
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("v_ts"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_ts"))
      val lags = views.join(buys, Seq("user_id"))
        .filter(col("p_ts") >= col("v_ts"))
        .groupBy(col("user_id"), col("v_ts")).agg(min(col("p_ts")).as("p_ts"))
        .select((col("p_ts") - col("v_ts")).as("lag_us"))
      val counts = views.agg(count(lit(1)).as("n_viewers"))
        .crossJoin(lags.agg(count(lit(1)).as("n_converted")))
      val pct = operators.Percentiles.exact(lags, lit("all"), col("lag_us"),
          Seq(("p50_lag", 0.5), ("p90_lag", 0.9)))
        .select(col("p50_lag"), col("p90_lag"))
      // left join on true, not crossJoin: Percentiles.exact over an EMPTY
      // lag frame returns zero rows, and the oracle's aggregate-over-empty
      // semantics are one row with n_converted=0 and NULL quantiles — the
      // left join preserves the counts row with NULL p50/p90 in that case
      counts.join(broadcast(pct), lit(true), "left")
    }),

    // Per-group KS drift (Eval.ksTestByGroup): q179 for EVERY source in
    // ONE pass — does the en-cohort length distribution diverge from the
    // rest, per source? groupBy(g, value) partial-agg, (g, value)
    // range-sort, per-(partition, group) subtotal offsets (KBs), one scan
    // with two counters per fragment — never a per-group job loop, never
    // a window. All BIGINT; NULL where a cohort is empty.
    "q187_ks_by_group" -> ((s, d) =>
      operators.Eval.ksTestByGroup(t(s, d, "documents"), col("source"),
          (col("lang") === "en").cast("long"), col("n_chars"))
        .select(col("g").as("source"), col("n1"), col("n2"), col("ks_micro"))
        .orderBy(col("source"))),

    // Streaming twin of q184 (StreamingOps.drawdownStream): the
    // peak-to-trough monitor maintained LIVE — the sequential drawdown
    // fold needs only the running peak, so state is O(1) per stream;
    // final emission must equal the batch operator (shared q184 oracle).
    "q186_streaming_drawdown" -> ((s, d) => {
      import s.implicits._
      def us(e: graft.streaming.TimedEvent): Long =
        (e.ts.getTime - e.ts.getNanos / 1000000) * 1000L + e.ts.getNanos / 1000
      val tape = ev(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[graft.streaming.TimedEvent].collect().toSeq
        .sortBy(e => (us(e), e.event_id))
      val sink = graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(ds =>
        graft.streaming.StreamingOps.drawdownStream(ds))
      sink.groupBy(col("event_type"))
        .agg(max_by(struct(col("n_ticks"), col("max_cents"), col("min_cents"),
          col("max_drawdown_cents")), col("batch")).as("m"))
        .select(col("event_type"), col("m.n_ticks").as("n_ticks"),
          col("m.max_cents").as("max_cents"),
          col("m.min_cents").as("min_cents"),
          col("m.max_drawdown_cents").as("max_drawdown_cents"))
        .orderBy(col("event_type"))
    }),

    // Per-document percentile rank (Stats.percentRank): percent_rank of
    // n_chars — the per-doc percentile a curriculum attaches before
    // thresholding — WITHOUT a global one-task window: the rank map is
    // built on the distinct-value frame by the q116 two-pass machinery and
    // joined back on the value. pr_micro = micro((rank_min−1)/(n−1)).
    "q185_percent_rank" -> ((s, d) =>
      operators.Stats.percentRank(t(s, d, "documents"), col("doc_id"),
          col("n_chars"))
        .select(col("id").as("doc_id"), col("v").as("n_chars"),
          col("pr_micro"))
        .orderBy(col("doc_id"))),

    // Key-skew audit (Profile.keySkew): the Gini concentration of
    // l_partkey's frequency distribution — the pre-join audit that decides
    // whether this key needs the q88 salting or AQE skew-split. Exact
    // all-integer Gini over the (key, count) frame via the q116 two-pass
    // rank machinery; one row, all BIGINT.
    "q181_key_skew" -> ((s, d) =>
      operators.Profile.keySkew(t(s, d, "lineitem"), col("l_partkey"))),

    // Calibration curve (Eval.calibration): the reliability diagram for
    // the q116 scorer — same integer dot-product scores and labels, banded
    // into 10 equal-width integer bins; per band (n, n_pos, pos-rate
    // micro). AUC (q116) grades ranking; this grades the score VALUE as a
    // thresholding device. All-integer binning, all-BIGINT output.
    "q182_calibration" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0d)).cast("long"))
            .as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .select(when(col("label") === 0, 1L).otherwise(0L).as("pos"),
          aggregate(zip_with(col("v"), col("qv"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("score"))
      operators.Eval.calibration(scored, col("pos"), col("score"), nBins = 10)
    }),

    // Streaming twin of q176 (StreamingOps.tickGapStream): the gap audit
    // maintained LIVE by an Update-mode keyed fold over the replayed tape —
    // state is one O(1) summary per stream (key-bounded, not
    // history-bounded), each batch emits the refreshed row, and the final
    // per-stream emission must equal the batch audit exactly (shared
    // oracle with q176). Tape ordered by true MICROSECONDS (getTime alone
    // truncates to millis and would split same-millisecond events across
    // batch seams out of order).
    "q183_streaming_gaps" -> ((s, d) => {
      import s.implicits._
      def us(e: graft.streaming.TimedEvent): Long =
        (e.ts.getTime - e.ts.getNanos / 1000000) * 1000L + e.ts.getNanos / 1000
      val tape = ev(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[graft.streaming.TimedEvent].collect().toSeq
        .sortBy(e => (us(e), e.event_id))
      val sink = graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(ds =>
        graft.streaming.StreamingOps.tickGapStream(ds, 1800000000L))
      sink.groupBy(col("event_type"))
        .agg(max_by(struct(col("n_ticks"), col("span_us"), col("max_gap_us"),
          col("n_gaps_gt")), col("batch")).as("m"))
        .select(col("event_type"), col("m.n_ticks").as("n_ticks"),
          col("m.span_us").as("span_us"), col("m.max_gap_us").as("max_gap_us"),
          col("m.n_gaps_gt").as("n_gaps_gt"))
        .orderBy(col("event_type"))
    }),

    // Cross-source contamination matrix: the q23-verified near-dup pair
    // graph rolled up by unordered source pair — which corpus sources leak
    // into which (the dedup follow-up a training-data curator reads before
    // weighting sources). Pair frame is id-sized; the id→source map joins
    // by id (broadcastable at dim scale, AQE otherwise); the text never
    // re-exchanges. Oracle: exact all-pairs Jaccard (NEARDUP_PAIRS_CTE).
    "q177_source_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b"))
      val srcs = docs.select(col("doc_id"), col("source"))
      pairs
        .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("s_a")),
          Seq("doc_a"))
        .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("s_b")),
          Seq("doc_b"))
        .select(least(col("s_a"), col("s_b")).as("src_a"),
          greatest(col("s_a"), col("s_b")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_dup_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Benford leading-digit audit: the digit-frequency fingerprint of a
    // money column (synthetic/fabricated data skews it). cents =
    // floor(x·100) — ONE IEEE multiply then floor, deterministic in every
    // engine — and the leading digit via integer→string (exact rendering,
    // unlike double→string). One scan, 9-row agg; share as IntRatio micro.
    "q178_benford" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val digits = t(s, d, "lineitem")
        .select(substring((floor(col("l_extendedprice") * 100)).cast("long")
          .cast("string"), 1, 1).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("n_total"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"), col("n_total"),
          col("n").cast(d38).as("sh_num"), col("n_total").cast(d38).as("sh_den"))
        .select(col("digit"), col("n"), col("n_total"),
          graft.functions.IntRatio.micro("sh_num", "sh_den").as("share_micro"))
        .orderBy(col("digit"))
    }),

    // Two-sample KS statistic (Eval.ksTest): distribution drift between
    // the R and A return cohorts of l_extendedprice. max|ECDF diff| in
    // INTEGER space (|c1·n2 − c2·n1|, BigInteger) via the q116 two-pass
    // rank machinery with two counters — no global window, no double
    // anywhere. Output all BIGINT (n1, n2, ks_micro).
    "q179_ks_test" -> ((s, d) =>
      operators.Eval.ksTest(
        t(s, d, "lineitem").filter(col("l_returnflag").isin("R", "A")),
        (col("l_returnflag") === "R").cast("long"), col("l_extendedprice"))),

    // Longest strictly-increasing run per stream (Sequential.longestRuns):
    // monotone-streak profile under the pinned (ts, seq) order. Fragment
    // summaries carry the segment-combine algebra (n, best, prefix,
    // suffix, boundary values) so runs merge EXACTLY across partition
    // seams; doubles are only compared, never summed. All BIGINT output.
    "q180_streaks" -> ((s, d) =>
      operators.Sequential.longestRuns(ev(s, d), col("event_type"),
          unix_micros(col("ts")), col("event_id"), col("value"))
        .select(col("k").as("event_type"), col("n_ticks"), col("longest_run"))
        .orderBy(col("event_type"))),

    "q174_edit_dups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b"))
      val txt = docs.select(col("doc_id"), col("text"))
      pairs
        .join(txt.select(col("doc_id").as("doc_a"), col("text").as("t_a")),
          Seq("doc_a"))
        .join(txt.select(col("doc_id").as("doc_b"), col("text").as("t_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("t_a"), col("t_b")).cast("long").as("edit_dist"))
        .filter(col("edit_dist") <= 6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MAD robust outliers (q164's winsorize sibling): per-group median +
    // median-absolute-deviation via Percentiles.exact (bit-identical to
    // the oracle's quantile_cont, the q39/q164 equivalence), outlier ⇔
    // |x − med| > 3·1.4826·MAD (one literal multiply — IEEE-identical in
    // any engine; comparisons of exact doubles are deterministic). Two
    // bounded-memory percentile passes + KB-sized broadcast caps; counts
    // BIGINT, med/mad the gated interpolated doubles q39 already proves.
    "q175_mad_outliers" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val med = graft.operators.Percentiles.exact(li, col("l_returnflag"),
          col("l_extendedprice"), Seq(("med", 0.5)))
        .select(col("g").as("l_returnflag"), col("med"))
      val dev = li.join(broadcast(med), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("med"),
          abs(col("l_extendedprice") - col("med")).as("adev"))
      val mad = graft.operators.Percentiles.exact(dev, col("l_returnflag"),
          col("adev"), Seq(("mad", 0.5)))
        .select(col("g").as("l_returnflag"), col("mad"))
      dev.join(broadcast(mad), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          count(when(col("adev") > lit(4.4478d) * col("mad"), 1))
            .as("n_outliers"),
          max(col("med")).as("med"), max(col("mad")).as("mad"))
        .orderBy(col("l_returnflag"))
    }),

    // Chunk → pack composition (Corpus.chunkPlan ☾ packShardsByCount): the
    // full docs→training-files path — documents split into 32-token
    // overlap windows (q167), each window a unit of cost (tok_end −
    // tok_start), units packed into 256-token shards by the SAME two-pass
    // distributed prefix sum as q72 (packShardsByCount, the composition
    // surface: any unit stream with an integer cost packs through it).
    // Composite unit_id = doc_id·1024 + chunk_idx keeps (doc, window)
    // order and cannot alias until a doc yields >1024 chunks (n_tok >
    // ~24 500 at chunk=32/overlap=8 — far past any fixture scale; the
    // old ·8 multiplier aliased at n_tok > 200 and would have made the
    // pack order engine-nondeterministic on ties). All integers end to
    // end; the oracle chains the q167 arithmetic into a cumsum window.
    "q173_chunk_pack" -> ((s, d) => {
      val chunks = Corpus.chunkPlan(t(s, d, "documents"), col("doc_id"),
          col("text"), chunkTokens = 32, overlap = 8)
        .select((col("doc_id") * 1024 + col("chunk_idx")).as("unit_id"),
          (col("tok_end") - col("tok_start")).as("cost"))
      Corpus.packShardsByCount(chunks, col("unit_id"), col("cost"),
          budgetTokens = 256L)
        .select(col("doc_id").as("unit_id"), col("n_tok"), col("cum_tok"),
          col("shard"))
        .orderBy(col("unit_id"))
    }),

    // IVF index balance audit: the build-health report for the q33/q97
    // index family — per-cell population of a 16-centroid assignment
    // rolled into (n_cells, n_vecs, min/max cell, imbalance = max/avg as
    // micro BIGINT). An imbalance factor far above 1 means probed-cell
    // latency is governed by one hot cell and the centroid count (or
    // re-clustering) needs attention BEFORE the index ships — at 100 TB
    // this audit is one scan + a 16-row agg. Same bit-identical
    // assignment arithmetic as q61; all-BIGINT output.
    "q172_ivf_balance" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val dist2 = (Similarity.dot(col("v"), col("v"))
        - lit(2.0) * Similarity.dot(col("v"), col("cv"))) +
        Similarity.dot(col("cv"), col("cv"))
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), struct(dist2.as("d"), col("cid")).as("dc"))
        .groupBy(col("vec_id")).agg(min(col("dc")).as("best"))
        .select(col("best.cid").as("cluster"))
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_vecs"),
          min(col("n")).as("min_cell"), max(col("n")).as("max_cell"))
        .select(col("n_cells"), col("n_vecs"), col("min_cell"),
          col("max_cell"),
          (col("max_cell").cast(d38) * col("n_cells").cast(d38)).as("i_num"),
          col("n_vecs").cast(d38).as("i_den"))
        .select(col("n_cells"), col("n_vecs"), col("min_cell"),
          col("max_cell"),
          when(col("i_den") > 0,
            graft.functions.IntRatio.micro("i_num", "i_den"))
            .as("imbalance_micro"))
    }),

    // Leakage-free split (Pipeline.leakFreeSplit): q94's deterministic
    // hash split hardened against near-dup leakage — any val/test doc
    // adjacent to a train doc in the verified LSH dup graph is reassigned
    // to 'leak' and excluded from both sides (an eval set containing
    // near-dups of train measures memorization). LSH band join + id-sized
    // semi join/distinct; the oracle substitutes the exact all-pairs dup
    // graph (the q23-verified equivalence) over the same hash split.
    "q171_leakage_split" -> ((s, d) =>
      operators.Pipeline.leakFreeSplit(t(s, d, "documents"), col("doc_id"),
          col("text"), Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy(col("id"))),

    // Boilerplate-prefix audit (Corpus.boilerplatePrefix): per source, the
    // most common leading 3-token prefix + its doc count — the injected
    // header/banner detector. Prefix-sized exchange (never the text), two
    // vocab-sized aggs, count-desc/prefix-asc tie-break via
    // min(struct(-cnt, prefix)) — no window function anywhere.
    "q170_boilerplate" -> ((s, d) =>
      Corpus.boilerplatePrefix(t(s, d, "documents"), col("source"),
          col("text"), k = 3)
        .orderBy(col("source"))),

    // Winsorized robust mean per group — the outlier-clipping step a
    // quality/score pipeline runs before averaging anything fat-tailed:
    // per-group exact p05/p95 caps (Percentiles.exact — the bounded-memory
    // two-pass, bit-identical to the buffering built-in), broadcast back
    // as a |groups|-row frame, values clamped scan-side, decimal-exact
    // sum. The caps frame is KBs at any corpus size; one broadcast join,
    // one group-by exchange.
    "q164_winsorize" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val caps = graft.operators.Percentiles.exact(li, col("l_returnflag"),
          col("l_extendedprice"), Seq(("lo", 0.05), ("hi", 0.95)))
        .select(col("g").as("l_returnflag"), col("lo"), col("hi"))
      li.join(broadcast(caps), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          when(col("l_extendedprice") < col("lo"), col("lo"))
            .when(col("l_extendedprice") > col("hi"), col("hi"))
            .otherwise(col("l_extendedprice")).as("w"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("w").cast("decimal(18,6)")).cast("double").as("wsum"))
        .select(col("l_returnflag"), col("n"), col("wsum"),
          (col("wsum") / col("n")).as("wmean"))
        .orderBy(col("l_returnflag"))
    }),

    // Triangle count over the near-dup graph (Graph.triangles): the
    // clustering-density audit of the q62 pair set, via degree-ordered
    // orientation — out-degrees bounded O(√m), so the wedge join's
    // per-key fan-out never goes quadratic on hub nodes. The count is
    // orientation-invariant, so the oracle's ID-ordered 3-way pair join
    // reproduces it exactly.
    "q163_triangles" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b"))
      operators.Graph.triangles(pairs)
    }),

    // Ninth streaming family in the gate: per-source Misra-Gries heavy
    // hitters maintained incrementally (StreamingOps.heavyHittersStream) —
    // state is ≤ k counters per source forever, never the vocabulary. MG
    // estimates are legitimately merge-order-dependent, so the gate checks
    // the deterministic GUARANTEES of the final stream state against exact
    // per-source counts (q67's bound style), plus that the stream's
    // running token total exactly equals the batch total — the
    // state-completeness proof across the 4 micro-batch boundaries.
    "q162_streaming_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val k = 50
      val tape = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .as[graft.streaming.DocTextEvent].collect().toSeq.sortBy(_.doc_id)
      val sink = graft.streaming.MemoryReplay.replay(s, tape, nBatches = 4,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(ds =>
        graft.streaming.StreamingOps.heavyHittersStream(ds, k))
      val fin = sink.groupBy(col("source"))
        .agg(max_by(struct(col("items"), col("ests"), col("n_tok")),
          col("batch")).as("m"))
        .select(col("source"), col("m.items").as("items"),
          col("m.ests").as("ests"), col("m.n_tok").as("n_tok"))
      val sk = fin
        .select(col("source"), explode(arrays_zip(col("items"), col("ests"))).as("e"))
        .select(col("source"), col("e.items").as("term"), col("e.ests").as("est"))
      val exact = t(s, d, "documents")
        .select(col("source"),
          explode(graft.functions.Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      val tot = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(size(graft.functions.Text.tokens(col("text"))))
          .cast("long").as("n_src"))
      val thresh = col("n_src").cast("double") / (k + 1).toDouble
      val checks = exact.join(sk, Seq("source", "term"), "full_outer")
        .join(broadcast(tot), Seq("source"))
        .agg(
          count(when(col("c").cast("double") > thresh && col("est").isNull, 1))
            .as("missed"),
          count(when(col("est").isNotNull && col("est") > col("c"), 1))
            .as("over"),
          count(when(col("est").isNotNull &&
            (col("c") - col("est")).cast("double") > thresh, 1)).as("loose"))
      val sizeTotal = fin.join(broadcast(tot), Seq("source"))
        .agg(max(size(col("items"))).as("max_sz"),
          count(when(col("n_tok") =!= col("n_src"), 1)).as("tot_mismatch"))
      checks.crossJoin(sizeTotal)
        .select(explode(array(
          struct(lit("mg_error_bound").as("metric"), (col("loose") === 0).as("ok")),
          struct(lit("mg_size_bound").as("metric"), (col("max_sz") <= k).as("ok")),
          struct(lit("mg_stream_total").as("metric"),
            (col("tot_mismatch") === 0).as("ok")),
          struct(lit("mg_superset").as("metric"), (col("missed") === 0).as("ok")),
          struct(lit("mg_underestimate").as("metric"), (col("over") === 0).as("ok")))))
        .select(col("col.metric").as("metric"), col("col.ok").as("ok"))
        .orderBy(col("metric"))
    })
  )

  // ---------------------------------------------------------------------------
  // Oracles (DuckDB SQL over the same parquet tables)
  // ---------------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(

    "q01_scan_project" ->
      "SELECT event_id, event_type, value FROM events ORDER BY event_id LIMIT 100",

    "q02_filter_agg" ->
      """SELECT count(*) AS cnt, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-09-01 00:00:00' AND l_quantity < 25""".stripMargin,

    "q03_latest_events" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC LIMIT 50""".stripMargin,

    "q04_latest_per_group" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |      FROM events) x
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q05_sma_forecast" ->
      """SELECT event_id, user_id, value,
        |  avg(value) OVER w5 AS sma5, avg(value) OVER w20 AS sma20, avg(value) OVER w5 AS forecast_next
        |FROM events
        |WINDOW
        |  w5 AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |  w20 AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q06_pnl_replay" -> PNL_REPLAY_SQL,

    // identical oracle to q06 — the STREAMING path must reproduce the batch
    // fold's answer exactly (arrival order is the same pinned (ts, seq))
    "q55_streaming_pnl" -> PNL_REPLAY_SQL,

    // identical oracle to q16 — streaming SMA ≡ batch window
    "q56_streaming_sma" -> MARKET_SMA_SQL,

    "q07_exposure" ->
      s"""WITH RECURSIVE $PNL_CTES
         |SELECT seq, ts, account, hub, position_mw, last_price_mwh,
         |       CAST(position_mw AS DOUBLE) AS pnl01,
         |       position_mw * last_price_mwh AS notional_usd
         |FROM u ORDER BY seq, account""".stripMargin,

    "q08_agg_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q09_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q12_setops" ->
      """WITH clicks AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |purchases AS (SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'both' AS op, user_id FROM (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM purchases) a
        |UNION ALL
        |SELECT 'click_only' AS op, user_id FROM (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM purchases) b
        |UNION ALL
        |SELECT 'either' AS op, user_id FROM (SELECT user_id FROM clicks UNION SELECT user_id FROM purchases) c
        |ORDER BY op, user_id""".stripMargin,

    "q13_scalar_funcs" ->
      """SELECT event_id,
        |  upper(event_type) AS type_upper,
        |  substr(event_type, 1, 3) AS type_pre,
        |  event_type || '_' || CAST(user_id AS VARCHAR) AS tag,
        |  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |  CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |  CAST(floor(value) AS BIGINT) AS flr,
        |  CAST(ceil(value) AS BIGINT) AS cl,
        |  abs(value - 100.0) AS dist
        |FROM events ORDER BY event_id LIMIT 200""".stripMargin,

    "q14_time_window" ->
      """SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT) AS bucket_start_s,
        |  event_type, count(*) AS n, avg(value) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start_s, event_type""".stripMargin,

    "q15_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q16_market_forecasts" -> MARKET_SMA_SQL,

    "q17_latest_positions" ->
      s"""WITH RECURSIVE $PNL_CTES
         |SELECT seq, ts, account, hub, position_mw, avg_price_mwh, last_price_mwh,
         |       realized_pnl, unrealized_pnl, total_pnl
         |FROM (SELECT *, row_number() OVER (PARTITION BY account, hub ORDER BY seq DESC) AS rn2 FROM u) z
         |WHERE rn2 = 1 ORDER BY account, hub""".stripMargin,

    "q42_latest_exposure" ->
      s"""WITH RECURSIVE $PNL_CTES
         |SELECT seq, ts, account, hub, position_mw, last_price_mwh,
         |       CAST(position_mw AS DOUBLE) AS pnl01,
         |       position_mw * last_price_mwh AS notional_usd
         |FROM (SELECT *, row_number() OVER (PARTITION BY account, hub ORDER BY seq DESC) AS rn2 FROM u) z
         |WHERE rn2 = 1 ORDER BY account, hub""".stripMargin,

    "q18_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nospace,
        |  CASE WHEN length(list_filter(string_split(text, ' '), x -> x <> '')) = 0 THEN 0.0
        |       ELSE CAST(length(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |            / length(list_filter(string_split(text, ' '), x -> x <> '')) END AS stop_ratio,
        |  CASE WHEN length(list_filter(string_split(text, ' '), x -> x <> '')) = 0 THEN 0.0
        |       ELSE CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |            / length(list_filter(string_split(text, ' '), x -> x <> '')) END AS avg_token_len,
        |  CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) BETWEEN 5 AND 10000
        |       AND (CASE WHEN length(list_filter(string_split(text, ' '), x -> x <> '')) = 0 THEN 0.0
        |                 ELSE CAST(length(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |                      / length(list_filter(string_split(text, ' '), x -> x <> '')) END) >= 0.01 AS BIGINT) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q19_lang_id" ->
      """SELECT doc_id, en_hits, es_hits, de_hits,
        |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
        |       WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
        |       WHEN de_hits > 0 THEN 'de'
        |       ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','and','of','is','to'], x))) AS BIGINT) AS en_hits,
        |    CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['el','la','de','que','y','los'], x))) AS BIGINT) AS es_hits,
        |    CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS de_hits
        |  FROM documents) h
        |ORDER BY doc_id""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin,

    "q21_doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q22_cosine_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, n.vec_id, list_dot_product(q.qv, n.v) / (q.qnrm * n.nrm) AS score
        |  FROM q JOIN n ON n.vec_id <> q.qid)
        |SELECT qid, vec_id, score, rn FROM (
        |  SELECT qid, vec_id, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        |  FROM scored) z
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    // FULL recomputation of the LSH tables (portable plane family,
    // Similarity.planeVec round 7): 16 tables x 4 sign-planes, component j
    // of plane pid = +/-1 from bit 13 of the scramble over the SQUARE of
    // m = (pid+1)*131+(j+1) mod 998244353 (the squaring decorrelates
    // planes; see planeVec scaladoc) — every intermediate < 2^63, so the
    // identical arithmetic runs in DuckDB. (h>>13)&1 is spelled h//8192%2
    // to dodge SQL shift/AND precedence. Candidates share any (table,
    // bucket); exact cosine rerank mirrors q22.
    "q27_lsh_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |pv AS (SELECT r.pid, list_transform(range(0, 64),
        |         j -> CASE WHEN ((((r.pid + 1) * 131 + (j + 1)) % 998244353)
        |                         * (((r.pid + 1) * 131 + (j + 1)) % 998244353)
        |                         % 998244353
        |                         * 2654435761 + 40503) % 4294967296 // 8192 % 2 = 1
        |              THEN 1.0 ELSE -1.0 END) AS plane
        |       FROM range(0, 64) r(pid)),
        |bk AS (SELECT n.vec_id, p.pid // 4 AS tbl,
        |         sum(CASE WHEN list_dot_product(n.v, p.plane) >= 0
        |                  THEN CAST(1 AS BIGINT) << CAST(p.pid % 4 AS INTEGER)
        |                  ELSE 0 END) AS bucket
        |       FROM n, pv p GROUP BY n.vec_id, p.pid // 4),
        |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id
        |         FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |         WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |scored AS (SELECT cand.qid, cand.vec_id,
        |             list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm) AS score
        |           FROM cand JOIN n qn ON qn.vec_id = cand.qid
        |                     JOIN n cn ON cn.vec_id = cand.vec_id)
        |SELECT qid, vec_id, score, rn FROM (
        |  SELECT qid, vec_id, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        |  FROM scored) z
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    // same plane family; planes auto-sized from the corpus count with the
    // same ceil(ln(n/64)/ln 2) spelling the engine uses (floor 4). Planes
    // are generated to a 256 ceiling then filtered so range() keeps a
    // constant argument. Pair candidates from any shared (table, bucket),
    // exact cosine >= 0.4 verify — the verified subset the engine emits.
    "q29_cosine_dups_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |par AS (SELECT CAST(min(p.p) AS BIGINT) AS planes
        |        FROM range(4, 57) p(p), (SELECT count(*) AS cnt FROM e) c
        |        WHERE (CAST(64 AS BIGINT) << CAST(p.p AS INTEGER)) >= c.cnt),
        |pv AS (SELECT r.pid, list_transform(range(0, 64),
        |         j -> CASE WHEN ((((r.pid + 1) * 131 + (j + 1)) % 998244353)
        |                         * (((r.pid + 1) * 131 + (j + 1)) % 998244353)
        |                         % 998244353
        |                         * 2654435761 + 40503) % 4294967296 // 8192 % 2 = 1
        |              THEN 1.0 ELSE -1.0 END) AS plane
        |       FROM range(0, 256) r(pid), par WHERE r.pid < 16 * par.planes),
        |bk AS (SELECT n.vec_id, p.pid // par.planes AS tbl,
        |         sum(CASE WHEN list_dot_product(n.v, p.plane) >= 0
        |                  THEN CAST(1 AS BIGINT) << CAST(p.pid % par.planes AS INTEGER)
        |                  ELSE 0 END) AS bucket
        |       FROM n, pv p, par GROUP BY n.vec_id, p.pid // par.planes),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
        |         WHERE a.vec_id < b.vec_id)
        |SELECT cand.id_a, cand.id_b,
        |       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS score
        |FROM cand JOIN n a ON a.vec_id = cand.id_a
        |          JOIN n b ON b.vec_id = cand.id_b
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // FULL recomputation of the IVF index: centroids = the 64 rows with the
    // smallest portable multiplicative hash of vec_id (injective < 2^32, the
    // q59/q64 family — Similarity.ivfKnn round 7), assignment = max cosine
    // with ties to the higher cid (the engine's lexicographic array_max),
    // queries probe their 8 best cells, exact cosine rerank mirrors q22.
    "q33_ivf_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cent AS (SELECT vec_id AS cid, v AS cv, sqrt(list_dot_product(v, v)) AS cnrm
        |         FROM e ORDER BY (vec_id * 2654435761 + 40503) % 4294967296 LIMIT 64),
        |sc AS (SELECT n.vec_id, c.cid,
        |         list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) AS cs
        |       FROM n, cent c),
        |asg AS (SELECT vec_id, cid AS cell FROM (
        |          SELECT vec_id, cid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid DESC) AS r
        |          FROM sc) x WHERE r = 1),
        |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
        |          SELECT vec_id, cid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid DESC) AS r
        |          FROM sc WHERE vec_id < 5) x WHERE r <= 8),
        |cand AS (SELECT p.qid, a.vec_id
        |         FROM probes p JOIN asg a ON a.cell = p.cell
        |         WHERE a.vec_id <> p.qid),
        |scored AS (SELECT cand.qid, cand.vec_id,
        |             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS score
        |           FROM cand JOIN n q ON q.vec_id = cand.qid
        |                     JOIN n c ON c.vec_id = cand.vec_id)
        |SELECT qid, vec_id, score, rn FROM (
        |  SELECT qid, vec_id, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        |  FROM scored) z
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    "q25_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT source AS blk, doc_id,
        |    CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |    END AS sh
        |  FROM (SELECT source, doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM documents) tk)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Full recomputation of the portable simhash sketches (same arithmetic
    // as GraftFunctions.portableTokenHash / SimHash64, spelled in SQL: the
    // two prime-mod polynomial rolls stay < 2^30 so every multiply fits
    // BIGINT) followed by exact all-pairs hamming <= 3. The sketch is split
    // into two 32-bit halves (s1, s2) because the packed 64-bit value would
    // need wrap-around arithmetic; hamming = popcount(xor) per half summed.
    "q24_simhash_pairs" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(tok) + 1),
        |        i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS fp1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(tok) + 1),
        |        i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |      (a, b) -> (a * 131 + b) % 998244353) AS fp2
        |  FROM tk, unnest(toks) AS u(tok)),
        |hh AS (
        |  SELECT doc_id,
        |    (fp1 * 2654435761 + 40503) % 4294967296 AS h1,
        |    (fp2 * 2246822519 + 3266489917) % 4294967296 AS h2
        |  FROM th),
        |bits AS (
        |  SELECT doc_id, r.j,
        |    sum(CASE WHEN ((CASE WHEN r.j < 32 THEN h1 >> r.j
        |                        ELSE h2 >> (r.j - 32) END) % 2) = 1
        |        THEN 1 ELSE -1 END) AS c
        |  FROM hh, range(0, 64) AS r(j) GROUP BY doc_id, r.j),
        |sk0 AS (
        |  SELECT doc_id,
        |    coalesce(sum(CASE WHEN j < 32 AND c > 0
        |                      THEN CAST(1 AS BIGINT) << j END), 0) AS s1,
        |    coalesce(sum(CASE WHEN j >= 32 AND c > 0
        |                      THEN CAST(1 AS BIGINT) << (j - 32) END), 0) AS s2
        |  FROM bits GROUP BY doc_id),
        |sk AS (
        |  SELECT d.doc_id, coalesce(s.s1, 0) AS s1, coalesce(s.s2, 0) AS s2
        |  FROM documents d LEFT JOIN sk0 s USING (doc_id))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) AS hamming
        |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // The planted dHash patterns re-derived arithmetically (DHASH_SK_CTE),
    // exact all-pairs hamming ≤ 3 — the blocked Spark plan equals all-pairs
    // because hamming ≤ 3 forces a shared 16-bit chunk (pigeonhole). The
    // engine side recovers every bit from REAL decoded PNG pixels; only the
    // fixture encoder and this oracle know the arithmetic.
    "q199_image_phash_pairs" -> MEDIA_PAIRS_SQL,

    // Same planted-pattern arithmetic as q199 (deliberately: the ENGINE
    // paths differ completely — PCM energy walk vs PNG pixel averaging —
    // while the oracle pins both to one ground truth)
    "q202_audio_fingerprint_pairs" -> MEDIA_PAIRS_SQL,

    // Streaming twin of q199 — same exact all-pairs ground truth (the
    // pigeonhole index loses nothing at hamming ≤ 3 over an ordered tape)
    "q204_streaming_media_dedup" -> MEDIA_PAIRS_SQL,

    // The TTL twin: q199's pair universe restricted to the trailing
    // window — parity-ordered ranks, gap ≤ n/4 (eviction is strictly-
    // older-than-cutoff, so a gap of exactly the TTL survives)
    "q205_streaming_media_dedup_ttl" ->
      s"""WITH $DHASH_SK_CTE,
        |pos AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id % 2, doc_id) AS r
        |  FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) AS hamming
        |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        |JOIN pos pa ON pa.doc_id = a.doc_id
        |JOIN pos pb ON pb.doc_id = b.doc_id
        |CROSS JOIN nn
        |WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3
        |  AND abs(pa.r - pb.r) <= nn.n // 4
        |ORDER BY doc_a, doc_b""".stripMargin,

    // The mixed tape converges on q199's ground truth: every modality's
    // decoder recovers the same planted bits, and the pigeonhole streaming
    // index loses nothing at hamming ≤ 3 over an ordered tape
    "q210_streaming_mixed_media" -> MEDIA_PAIRS_SQL,

    // Same planted-pattern ground truth, third engine path (box walk +
    // stts run expansion)
    "q203_video_fingerprint_pairs" -> MEDIA_PAIRS_SQL,

    // Window prefix-sum re-derivation of the quantized next-fit packing:
    // keeps are the pre-inflated files, bins are floor(exclusive-cumsum /
    // target) over the small files in id order — integer arithmetic only
    "q200_compaction_plan" ->
      """WITH mf AS (
        |  SELECT doc_id AS file_id,
        |         n_chars + CASE WHEN doc_id % 17 = 0 THEN 100000 ELSE 0 END AS bytes
        |  FROM documents),
        |sm AS (
        |  SELECT file_id, bytes,
        |         coalesce(CAST(sum(bytes) OVER (ORDER BY file_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |           0) AS excl
        |  FROM mf WHERE bytes < 2000)
        |SELECT file_id, bytes, 'keep' AS action, CAST(-1 AS BIGINT) AS bin
        |FROM mf WHERE bytes >= 2000
        |UNION ALL
        |SELECT file_id, bytes, 'rewrite' AS action, excl // 2000 AS bin
        |FROM sm
        |ORDER BY file_id""".stripMargin,

    // The planted-markup prediction: the oracle never parses HTML — the
    // fixture structure makes extraction pure arithmetic on (doc_id, text).
    // Main block = whitespace-normalized text + the decoded entity suffix;
    // ref paragraph survives on id%5 (1 anchor / 4 tokens ≤ 1/3); nav,
    // footer and the id%7 link farm are dropped by link density. ltrim
    // guards the (never-occurring at current fixtures) empty-text edge
    // where Spark's per-block trim would eat the leading space.
    "q206_html_extract" ->
      """SELECT doc_id,
        |  ltrim(trim(regexp_replace(text, '\s+', ' ', 'g'))
        |    || ' & tail' || CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN ' see ref section ' || CAST(doc_id % 13 AS VARCHAR)
        |            ELSE '' END) AS main_text,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_kept,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 2 END AS BIGINT) AS n_dropped
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // MERGE latest-state: the window form over base ∪ updates — equal to
    // the engine's anti-join plan under the monotone-seq CDC contract
    "q208_merge_upsert" ->
      s"""WITH $MERGE_CTE
        |SELECT k, source, v, seq FROM mu
        |QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
        |ORDER BY k""".stripMargin,

    // The post-delete head is exactly the range's complement
    "q213_log_delete" -> LOG_DELETE_SQL,

    // Pruning must be invisible to semantics: the pruned-read + row-filter
    // result IS the plain filter
    "q212_manifest_skipping" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE n_chars BETWEEN 150 AND 250
        |ORDER BY doc_id""".stripMargin,

    // Three snapshots of one logged table, each a plain derivation: v1 =
    // the base, v2 = base ∪ updates (append references, duplicate keys
    // visible), v3 = the merged latest state — the commit log's read path
    // must reproduce all three from its manifests
    "q211_time_travel" ->
      s"""WITH $MERGE_CTE,
        |merged AS (
        |  SELECT k, source, v, seq FROM mu
        |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1)
        |SELECT k, source, v, seq, CAST(1 AS BIGINT) AS version FROM mbase
        |UNION ALL
        |SELECT k, source, v, seq, CAST(2 AS BIGINT) FROM mu
        |UNION ALL
        |SELECT k, source, v, seq, CAST(3 AS BIGINT) FROM merged
        |ORDER BY version, k, seq""".stripMargin,

    // Every version of the checkpointed chain is a plain slice law:
    // version v holds exactly the docs with doc_id % 9 < v
    "q214_log_checkpoints" ->
      """SELECT d.doc_id, d.n_chars, CAST(r.v AS BIGINT) AS version
        |FROM documents d, range(1, 9) r(v)
        |WHERE d.doc_id % 9 < r.v
        |ORDER BY version, doc_id""".stripMargin,

    // w1 (append-only window): exactly the appended ids, status 'added';
    // w2 (across a rewrite): full-snapshot diff — %3=2 removed, %5=0
    // survivors changed, everything unchanged excluded
    "q215_log_cdf" ->
      """SELECT doc_id, 'added' AS status, 'w1' AS win
        |FROM documents WHERE doc_id % 3 IN (1, 2)
        |UNION ALL
        |SELECT doc_id, 'removed', 'w2' FROM documents WHERE doc_id % 3 = 2
        |UNION ALL
        |SELECT doc_id, 'changed', 'w2'
        |FROM documents WHERE doc_id % 3 < 2 AND doc_id % 5 = 0
        |ORDER BY win, doc_id, status""".stripMargin,

    // Pruning (partition + stats) must be invisible to semantics
    "q216_partitioned_log" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE source = 'src3' AND n_chars BETWEEN 150 AND 300
        |ORDER BY doc_id""".stripMargin,

    // The evolving chain re-derived: v1 without the added columns, v2's
    // old files NULL-fill lang, v3's older files NULL-fill src_u
    "q217_schema_evolution" ->
      """WITH v1 AS (
        |  SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang,
        |         CAST(NULL AS VARCHAR) AS src_u
        |  FROM documents WHERE doc_id % 3 = 0),
        |v2 AS (
        |  SELECT doc_id, n_chars, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, lang, CAST(NULL AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 1),
        |v3 AS (
        |  SELECT doc_id, n_chars, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, lang, CAST(NULL AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, n_chars, lang, upper(source)
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT CAST(1 AS BIGINT) AS version, * FROM v1
        |UNION ALL SELECT CAST(2 AS BIGINT), * FROM v2
        |UNION ALL SELECT CAST(3 AS BIGINT), * FROM v3
        |ORDER BY version, doc_id""".stripMargin,

    // Complement of the predicate, NULL rows kept (SQL delete semantics)
    "q218_predicate_delete" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE n_chars IS NULL OR NOT (n_chars % 7 = 0 AND n_chars >= 150)
        |ORDER BY doc_id""".stripMargin,

    // Box pruning must be invisible to semantics — the box filter alone
    "q225_zorder_log" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id BETWEEN 0 AND (SELECT max(doc_id) // 4 FROM documents)
        |  AND n_chars BETWEEN 150 AND 300
        |ORDER BY doc_id""".stripMargin,

    // The DV head is exactly the range's complement (NULL rows kept) —
    // identical contract to the rewrite delete, different mechanism
    "q226_deletion_vectors" -> LOG_DELETE_SQL,

    // v1 and the restored v3 are the SAME derivation; v2 is the accident
    "q224_log_restore" ->
      """SELECT doc_id, n_chars, CAST(1 AS BIGINT) AS version
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(2 AS BIGINT)
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0
        |ORDER BY version, doc_id""".stripMargin,

    // Every CDF image re-derived: inserts are the offset %11 keys,
    // updated keys (%3/%7) emit the base row as preimage and the max-seq
    // winner as postimage, untouched keys emit nothing
    "q222_log_cdf_rows" -> LOG_CDF_ROWS_SQL,

    // the SQL-surface change feed is the same derivation as q222
    "q231_sql_log_cdf" -> LOG_CDF_ROWS_SQL,

    // The audit trail is fully deterministic — a literal table
    "q223_log_history" -> LOG_HISTORY_SQL,

    // Manifest counts must equal the plain GROUP BY (and the total the
    // plain COUNT(*)) — metadata answering is invisible to semantics
    "q221_manifest_counts" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS total
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Complement of the partition-scoped predicate (NULL rows kept)
    "q220_partition_delete" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE NOT (source = 'src3' AND n_chars % 2 = 0)
        |   OR source IS NULL OR n_chars IS NULL
        |ORDER BY doc_id""".stripMargin,

    // The tailed funnel's keeper law: versions arrive in commit order
    // (version k holds doc_id % 4 = k-1), so the exact-dedup keeper of
    // each planted content group is the min doc_id of its earliest version
    "q219_log_tail_funnel" ->
      """SELECT doc_id,
        |  (row_number() OVER (PARTITION BY doc_id % 50
        |     ORDER BY doc_id % 4, doc_id) = 1) AS exact_keep
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // SQL time travel must see exactly what the Scala read sees: v1 = the
    // even half, head = everything
    "q227_sql_log_tvf" ->
      """SELECT doc_id, n_chars, CAST(1 AS BIGINT) AS version
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, CAST(2 AS BIGINT) AS version FROM documents
        |ORDER BY version, doc_id""".stripMargin,

    // typed-stat pruning must be invisible to semantics — the plain filter
    "q230_typed_skipping" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_totalprice > 150000.0
        |  AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    // the rebased head must equal the serial execution: all three thirds
    "q229_commit_rebase" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // three write surfaces (writer create, writer append, SQL INSERT)
    // partition the table by doc_id % 3; their union is the source table
    "q232_log_write_path" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the SQL delete's complement (NULL n_chars never matches BETWEEN)
    "q233_sql_delete" -> LOG_DELETE_SQL,

    // rename is metadata-only: the read is the source derivation under
    // the new logical name
    "q234_column_rename" ->
      """SELECT doc_id, source, n_chars AS char_count FROM documents
        |WHERE n_chars > 100
        |ORDER BY doc_id""".stripMargin,

    // q223's deterministic audit trail, reached through pure SQL
    "q228_sql_log_history" -> LOG_HISTORY_SQL,

    // Full re-derivation of the trained classifier: marker-augmented text,
    // q197's portable hashed token counts, per-language centroid sums,
    // integer dots completed over ALL (doc, lang) pairs (zero when no fid
    // is shared), the identical num²/n2 double score, the identical
    // (score DESC, lang) argmax — then the confusion rollup
    "q209_lang_id_trained" ->
      """WITH aug AS (
        |  SELECT doc_id, lang,
        |    text || ' ' || repeat(CASE lang WHEN 'en' THEN 'indeed '
        |      WHEN 'de' THEN 'jedoch ' WHEN 'es' THEN 'aunque '
        |      WHEN 'fr' THEN 'toutefois ' ELSE 'dehua ' END,
        |      CAST(1 + doc_id % 3 AS INTEGER)) AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, lang,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM aug),
        |u AS (SELECT doc_id, lang, unnest(toks) AS tok FROM tk),
        |f AS (SELECT doc_id, lang,
        |        CAST((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(range(1, length(tok) + 1),
        |                  i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |               (a, b) -> (a * 31 + b) % 1000000007)
        |              * 2654435761 + 40503) % 4294967296 % 64 AS BIGINT) AS fid,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM u GROUP BY 1, 2, 3),
        |cent AS (SELECT lang AS cand, fid, CAST(sum(c) AS BIGINT) AS cl
        |         FROM f GROUP BY 1, 2),
        |n2l AS (SELECT cand, CAST(sum(cl * cl) AS BIGINT) AS n2
        |        FROM cent GROUP BY 1),
        |nm AS (SELECT f.doc_id, cent.cand, CAST(sum(f.c * cent.cl) AS BIGINT) AS num
        |       FROM f JOIN cent ON f.fid = cent.fid
        |       GROUP BY 1, 2),
        |allp AS (SELECT d.doc_id, d.lang, l.cand, COALESCE(nm.num, 0) AS num
        |         FROM (SELECT DISTINCT doc_id, lang FROM aug) d
        |         CROSS JOIN (SELECT cand FROM n2l) l
        |         LEFT JOIN nm ON nm.doc_id = d.doc_id AND nm.cand = l.cand),
        |sc AS (SELECT allp.doc_id, allp.lang, allp.cand,
        |         (num * num) / n2l.n2 AS score
        |       FROM allp JOIN n2l ON n2l.cand = allp.cand),
        |pr AS (SELECT doc_id, lang, cand AS pred_lang,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score DESC, cand) AS rn
        |       FROM sc)
        |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM pr WHERE rn = 1
        |GROUP BY 1, 2
        |ORDER BY lang, pred_lang""".stripMargin,

    // q199's pair graph closed into components via the q62 recursive
    // min-reachable-id CTE; singletons map to themselves, keep ⇔ min
    "q201_image_dup_groups" ->
      s"""WITH RECURSIVE $DHASH_SK_CTE,
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3),
        |edges AS (
        |  SELECT doc_a AS id, doc_b AS nbr FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM edges) n
        |  UNION
        |  SELECT e.id, reach.r FROM edges e JOIN reach ON reach.id = e.nbr),
        |comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |  COALESCE(comp.component_id, d.doc_id) AS component_id,
        |  d.doc_id = COALESCE(comp.component_id, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Exact global all-pairs n-gram Jaccard — the verified-LSH plan must
    // reproduce it (recall loss is ~1e-8 per pair at the chosen banding)
    "q23_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |    END AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM documents) tk)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE length(a.sh) > 0 AND length(b.sh) > 0
        |  AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q40_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q45_normalized_dedup" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |          ' +', ' ', 'g')) AS norm
        |      FROM documents) n
        |GROUP BY norm ORDER BY canonical_id""".stripMargin,

    "q46_approx_quantile" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50_exact,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q47_window_funcs" ->
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  rank() OVER (PARTITION BY user_id ORDER BY event_type) AS type_rank,
        |  dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS type_dense_rank,
        |  cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |ORDER BY event_id""".stripMargin,

    "q48_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q49_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
        |  FROM lineitem WHERE l_orderkey < 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey < 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey < 100) u
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q50_stats_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(avg(l_extendedprice), 3) AS avg_price,
        |  round(stddev_samp(l_extendedprice), 3) AS sd_price,
        |  round(var_samp(l_quantity), 3) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 3) AS cov_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q51_full_outer" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer FULL OUTER JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin,

    "q52_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_k_gt50
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q53_vocab" ->
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents) t
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 100""".stripMargin,

    "q54_sql_subquery" ->
      """SELECT c_custkey, c_name, total
        |FROM (SELECT c_custkey, c_name,
        |             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |      FROM customer JOIN orders ON o_custkey = c_custkey
        |      GROUP BY c_custkey, c_name) t
        |WHERE total > 2 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |                          / count(DISTINCT o_custkey)
        |                   FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q61_kmeans_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
        |d AS (SELECT e.vec_id, c.cid,
        |        list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |          + list_dot_product(c.cv, c.cv) AS dist2
        |      FROM e CROSS JOIN c),
        |a AS (SELECT vec_id, cid AS cluster, dist2,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |      FROM d)
        |SELECT cluster, count(*) AS n,
        |       CAST(sum(CAST(dist2 AS DECIMAL(28,6))) AS DOUBLE) AS inertia
        |FROM a WHERE rn = 1
        |GROUP BY cluster ORDER BY cluster""".stripMargin,

    // Components of the EXACT near-dup graph (same pair predicate as q23's
    // all-pairs oracle) via recursive reachability: min reachable id =
    // component id. Matching the Spark side needs (a) LSH pair recall ~1
    // (q23's banding argument) and (b) the CC fixpoint to be exact.
    "q62_dup_clusters" ->
      s"""WITH RECURSIVE $NEARDUP_PAIRS_CTE,
        |edges AS (
        |  SELECT doc_a AS id, doc_b AS nbr FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM edges) n
        |  UNION
        |  SELECT e.id, reach.r FROM edges e JOIN reach ON reach.id = e.nbr),
        |comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |  COALESCE(comp.component_id, d.doc_id) AS component_id,
        |  d.doc_id = COALESCE(comp.component_id, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q62's exact all-pairs + recursive-CTE component closure, extended
    // with the (quality desc, id asc) canonical ranking — mirrors
    // Dedup.dupGroupsBest's max_by(doc_id, (q, -doc_id)) exactly
    "q99_dup_keep_best" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |    END AS sh
        |  FROM tk),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE length(a.sh) > 0 AND length(b.sh) > 0
        |    AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS id, doc_b AS nbr FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM edges) n
        |  UNION
        |  SELECT e.id, reach.r FROM edges e JOIN reach ON reach.id = e.nbr),
        |comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
        |ca AS (
        |  SELECT d.doc_id, COALESCE(comp.component_id, d.doc_id) AS component_id,
        |         CAST(length(d.text) AS BIGINT) AS q
        |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
        |canon AS (
        |  SELECT component_id, doc_id AS canonical_id FROM (
        |    SELECT component_id, doc_id,
        |           row_number() OVER (PARTITION BY component_id
        |                              ORDER BY q DESC, doc_id) AS rn
        |    FROM ca) z
        |  WHERE rn = 1)
        |SELECT ca.doc_id, ca.component_id, canon.canonical_id,
        |       ca.doc_id = canon.canonical_id AS keep
        |FROM ca JOIN canon USING (component_id)
        |ORDER BY ca.doc_id""".stripMargin,

    // HLL booleans are computed Spark-side (DataSketches estimates are not
    // reproducible in DuckDB); the oracle pins the contract outcome — the
    // q44/q86 quality-gate pattern
    "q98_hll_incremental_distinct" ->
      """SELECT * FROM (VALUES
        |  ('hll_error_ok', TRUE),
        |  ('hll_merge_invariant', TRUE),
        |  ('hll_nonempty', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    // Full SQL re-derivation of the five-stage funnel: q19's lang-id +
    // q18's quality screen, min-id-per-text exact dedup (group by text IS
    // the fingerprint semantics), q99's exact all-pairs jaccard graph +
    // recursive-CTE components + (n_tokens desc, id asc) keep-best, and
    // q58's shingle-containment decontamination vs the benchmark split
    "q100_curation_pipeline" ->
      """WITH RECURSIVE
        |base AS (SELECT doc_id, text, doc_id % 10 = 0 AS is_bench FROM documents),
        |st AS (SELECT doc_id, text, is_bench,
        |  CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop,
        |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','and','of','is','to'], x))) AS BIGINT) AS en_hits,
        |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['el','la','de','que','y','los'], x))) AS BIGINT) AS es_hits,
        |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS de_hits
        |  FROM base),
        |flags AS (SELECT *,
        |  (en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0) AS lang_ok,
        |  (n_tokens BETWEEN 5 AND 10000 AND
        |   (CASE WHEN n_tokens = 0 THEN 0.0
        |         ELSE CAST(n_stop AS DOUBLE) / n_tokens END) >= 0.01) AS quality_ok
        |  FROM st),
        |s1 AS (SELECT * FROM flags WHERE NOT is_bench AND lang_ok AND quality_ok),
        |ex AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY text) AS exact_keep FROM s1),
        |s2 AS (SELECT s1.* FROM s1 JOIN ex USING (doc_id) WHERE ex.exact_keep),
        |sh2 AS (SELECT doc_id, n_tokens,
        |  CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |       ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |              i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |  END AS sh
        |  FROM (SELECT doc_id, n_tokens,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM s2)),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE length(a.sh) > 0 AND length(b.sh) > 0
        |    AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS id, doc_b AS nbr FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM edges) n
        |  UNION
        |  SELECT e.id, reach.r FROM edges e JOIN reach ON reach.id = e.nbr),
        |comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
        |ca AS (SELECT s2.doc_id, COALESCE(comp.component_id, s2.doc_id) AS component_id,
        |         s2.n_tokens AS q
        |       FROM s2 LEFT JOIN comp ON comp.id = s2.doc_id),
        |canon AS (
        |  SELECT component_id, doc_id AS canonical_id FROM (
        |    SELECT component_id, doc_id,
        |           row_number() OVER (PARTITION BY component_id
        |                              ORDER BY q DESC, doc_id) AS rn
        |    FROM ca) z
        |  WHERE rn = 1),
        |nd AS (SELECT ca.doc_id, ca.doc_id = canon.canonical_id AS neardup_keep
        |       FROM ca JOIN canon USING (component_id)),
        |s3 AS (SELECT sh2.doc_id, sh2.sh, CAST(length(sh2.sh) AS BIGINT) AS n_sh
        |       FROM sh2 JOIN nd USING (doc_id) WHERE nd.neardup_keep),
        |bsh AS (SELECT DISTINCT unnest(
        |    CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |    END) AS s
        |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM base WHERE is_bench)),
        |es AS (SELECT doc_id, unnest(sh) AS s FROM s3),
        |hits AS (SELECT es.doc_id, count(*) AS n_hit FROM es JOIN bsh USING (s) GROUP BY 1),
        |dec AS (SELECT s3.doc_id,
        |         NOT ((CASE WHEN s3.n_sh = 0 THEN 0.0
        |                    ELSE CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / s3.n_sh END)
        |              >= 0.5) AS decontam_ok
        |       FROM s3 LEFT JOIN hits USING (doc_id))
        |SELECT f.doc_id, f.lang_ok, f.quality_ok, ex.exact_keep, nd.neardup_keep,
        |  dec.decontam_ok,
        |  COALESCE(f.lang_ok AND f.quality_ok AND ex.exact_keep AND nd.neardup_keep
        |           AND dec.decontam_ok, FALSE) AS kept
        |FROM flags f
        |LEFT JOIN ex USING (doc_id)
        |LEFT JOIN nd USING (doc_id)
        |LEFT JOIN dec USING (doc_id)
        |WHERE NOT f.is_bench
        |ORDER BY f.doc_id""".stripMargin,

    // q100's oracle with the near-dup stage swapped to first-wins: a
    // stage-2 survivor is dropped iff it is the LATER side of any exact
    // all-pairs J >= 0.5 pair — no recursive component closure, because
    // the ingest policy never needs one
    "q195_streaming_curation" ->
      """WITH
        |base AS (SELECT doc_id, text, doc_id % 10 = 0 AS is_bench FROM documents),
        |st AS (SELECT doc_id, text, is_bench,
        |  CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop,
        |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','and','of','is','to'], x))) AS BIGINT) AS en_hits,
        |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['el','la','de','que','y','los'], x))) AS BIGINT) AS es_hits,
        |  CAST(length(list_filter(string_split(lower(text), ' '), x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS de_hits
        |  FROM base),
        |flags AS (SELECT *,
        |  (en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0) AS lang_ok,
        |  (n_tokens BETWEEN 5 AND 10000 AND
        |   (CASE WHEN n_tokens = 0 THEN 0.0
        |         ELSE CAST(n_stop AS DOUBLE) / n_tokens END) >= 0.01) AS quality_ok
        |  FROM st),
        |s1 AS (SELECT * FROM flags WHERE NOT is_bench AND lang_ok AND quality_ok),
        |ex AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY text) AS exact_keep FROM s1),
        |s2 AS (SELECT s1.* FROM s1 JOIN ex USING (doc_id) WHERE ex.exact_keep),
        |sh2 AS (SELECT doc_id, n_tokens,
        |  CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |       ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |              i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |  END AS sh
        |  FROM (SELECT doc_id, n_tokens,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM s2)),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE length(a.sh) > 0 AND length(b.sh) > 0
        |    AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5),
        |nd AS (SELECT s2.doc_id,
        |         s2.doc_id NOT IN (SELECT doc_b FROM pairs) AS neardup_keep
        |       FROM s2),
        |s3 AS (SELECT sh2.doc_id, sh2.sh, CAST(length(sh2.sh) AS BIGINT) AS n_sh
        |       FROM sh2 JOIN nd USING (doc_id) WHERE nd.neardup_keep),
        |bsh AS (SELECT DISTINCT unnest(
        |    CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |    END) AS s
        |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM base WHERE is_bench)),
        |es AS (SELECT doc_id, unnest(sh) AS s FROM s3),
        |hits AS (SELECT es.doc_id, count(*) AS n_hit FROM es JOIN bsh USING (s) GROUP BY 1),
        |dec AS (SELECT s3.doc_id,
        |         NOT ((CASE WHEN s3.n_sh = 0 THEN 0.0
        |                    ELSE CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / s3.n_sh END)
        |              >= 0.5) AS decontam_ok
        |       FROM s3 LEFT JOIN hits USING (doc_id))
        |SELECT f.doc_id, f.lang_ok, f.quality_ok, ex.exact_keep, nd.neardup_keep,
        |  dec.decontam_ok,
        |  COALESCE(f.lang_ok AND f.quality_ok AND ex.exact_keep AND nd.neardup_keep
        |           AND dec.decontam_ok, FALSE) AS kept
        |FROM flags f
        |LEFT JOIN ex USING (doc_id)
        |LEFT JOIN nd USING (doc_id)
        |LEFT JOIN dec USING (doc_id)
        |WHERE NOT f.is_bench
        |ORDER BY f.doc_id""".stripMargin,

    // q197's oracle: every hashed count recomputed — the q101 portable
    // token hash (poly roll base 31 mod 1e9+7, scrambled mod 2^32) mod 64
    // gives the feature id; num/n2 are integer sums over the sparse
    // (doc, fid, count) frame; the τ = 0.9 cosine test is the identical
    // cross-multiplied integer predicate
    "q197_hashed_embedding_dups" ->
      """WITH tk AS (SELECT doc_id, source,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM documents),
        |u AS (SELECT doc_id, source, unnest(toks) AS tok FROM tk),
        |f AS (SELECT doc_id, source,
        |        CAST((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(range(1, length(tok) + 1),
        |                  i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |               (a, b) -> (a * 31 + b) % 1000000007)
        |              * 2654435761 + 40503) % 4294967296 % 64 AS BIGINT) AS fid,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM u GROUP BY 1, 2, 3),
        |n2 AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM f GROUP BY 1),
        |nm AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(sum(a.c * b.c) AS BIGINT) AS num
        |       FROM f a JOIN f b ON a.fid = b.fid AND a.source = b.source
        |         AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, num, x.n2 AS n2_a, y.n2 AS n2_b
        |FROM nm JOIN n2 x ON x.doc_id = nm.doc_a
        |        JOIN n2 y ON y.doc_id = nm.doc_b
        |WHERE num > 0 AND 100 * num * num >= 81 * x.n2 * y.n2
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q198's oracle: hashed counts (q197's spelling), integer dots via the
    // sparse fid join, score = (num*num)/n2 — DuckDB's BIGINT/BIGINT
    // division is double, matching the Spark side's explicit cast — and
    // the same (score DESC, doc_id) rank
    "q198_hashed_text_knn" ->
      """WITH tk AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
        |f AS (SELECT doc_id,
        |        CAST((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(range(1, length(tok) + 1),
        |                  i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |               (a, b) -> (a * 31 + b) % 1000000007)
        |              * 2654435761 + 40503) % 4294967296 % 64 AS BIGINT) AS fid,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM u GROUP BY 1, 2),
        |n2 AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM f GROUP BY 1),
        |nm AS (SELECT q.doc_id AS qid, d.doc_id AS doc_id,
        |         CAST(sum(q.c * d.c) AS BIGINT) AS num
        |       FROM f q JOIN f d ON q.fid = d.fid
        |         AND q.doc_id < 5 AND d.doc_id <> q.doc_id
        |       GROUP BY 1, 2),
        |sc AS (SELECT qid, nm.doc_id, (num * num) / y.n2 AS score
        |       FROM nm JOIN n2 y ON y.doc_id = nm.doc_id
        |       WHERE num > 0),
        |r AS (SELECT qid, doc_id, score,
        |        CAST(row_number() OVER (PARTITION BY qid
        |               ORDER BY score DESC, doc_id) AS BIGINT) AS rn
        |      FROM sc)
        |SELECT qid, doc_id, score, rn FROM r WHERE rn <= 10
        |ORDER BY qid, rn""".stripMargin,

    // q196's oracle: rebuild the occurrence tape over stage-1 survivors
    // (base 2r, id%5=0 at 2r+1, id%10=0 at 3n+r; ttl = n//2 ticks), take
    // lag-window keepers (q193's predicate), then drop the later side of
    // any exact-Jaccard >= 0.5 keeper pair within the TTL window
    "q196_streaming_curation_ttl" ->
      s"""WITH $FUNNEL_TTL_CTE
        |SELECT doc_id, t AS tick FROM keep
        |WHERE t NOT IN (SELECT tb FROM pairs)
        |ORDER BY doc_id, tick""".stripMargin,

    // q207 = the shared funnel chain + the media clause: keepers carry
    // their planted dHash pattern (DHASH_SK_CTE), and the later side of
    // any hamming ≤ 3 keeper pair within the TTL window is dropped
    // alongside the text-Jaccard drops
    "q207_streaming_funnel_media" ->
      s"""WITH $DHASH_SK_CTE,
        |$FUNNEL_TTL_CTE,
        |ksk AS (SELECT keep.doc_id, keep.t, keep.n, sk.s1, sk.s2
        |        FROM keep JOIN sk USING (doc_id)),
        |mpairs AS MATERIALIZED (
        |  SELECT b.t AS tb
        |  FROM ksk a JOIN ksk b ON a.t < b.t AND b.t - a.t <= a.n // 2
        |  WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3)
        |SELECT doc_id, t AS tick FROM keep
        |WHERE t NOT IN (SELECT tb FROM pairs)
        |  AND t NOT IN (SELECT tb FROM mpairs)
        |ORDER BY doc_id, tick""".stripMargin,

    // Full recomputation of the hashed-linear score: the q24-family
    // portable poly roll per token (base 31 mod 1e9+7, scrambled to 32
    // bits), mod-1024 feature id, the same deterministic weight scramble,
    // and a seeded left-to-right list_reduce mirroring the kernel's fold
    // order — the score hash-matches to the last IEEE bit
    "q101_quality_classifier" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(toks, tok ->
        |        CAST((((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                 list_transform(range(1, length(tok) + 1),
        |                   i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |                 (a, b) -> (a * 31 + b) % 1000000007)
        |               * 2654435761 + 40503) % 4294967296 % 1024)
        |              * 2654435761 + 40503) % 4294967296 AS DOUBLE)
        |          / 4294967296.0 - 0.5)),
        |      (a, b) -> a + b) AS score
        |  FROM tk)
        |SELECT doc_id, n_tokens, score,
        |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE score / n_tokens END AS mean_score,
        |  (CASE WHEN n_tokens = 0 THEN 0.0 ELSE score / n_tokens END) > 0.0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    // SemDeDup: q61's assignment argmin + q26's cosine predicate restricted
    // to same-cluster pairs + q62's recursive min-reachable-id closure.
    "q102_semdedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d AS (SELECT n.vec_id, c.cid,
        |        list_dot_product(n.v, n.v) - 2.0 * list_dot_product(n.v, c.cv)
        |          + list_dot_product(c.cv, c.cv) AS dist2
        |      FROM n CROSS JOIN c),
        |a AS (SELECT vec_id, cid AS cluster FROM (
        |        SELECT vec_id, cid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |        FROM d) z WHERE rn = 1),
        |pairs AS MATERIALIZED (
        |  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
        |  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  JOIN n xn ON xn.vec_id = x.vec_id
        |  JOIN n yn ON yn.vec_id = y.vec_id
        |  WHERE list_dot_product(xn.v, yn.v) / (xn.nrm * yn.nrm) >= 0.4),
        |edges AS (
        |  SELECT doc_a AS id, doc_b AS nbr FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM edges) z
        |  UNION
        |  SELECT e2.id, reach.r FROM edges e2 JOIN reach ON reach.id = e2.nbr),
        |comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
        |SELECT a.vec_id, a.cluster,
        |       COALESCE(comp.component_id, a.vec_id) AS component_id,
        |       a.vec_id = COALESCE(comp.component_id, a.vec_id) AS keep
        |FROM a LEFT JOIN comp ON comp.id = a.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "q103_ohlc_vwap_bars" -> BARS_SQL,
    "q110_streaming_bars" -> BARS_SQL,

    "q104_ewma" -> EWMA_SQL,
    "q105_streaming_ewma" -> EWMA_SQL,

    // mirrors Kmeans.labelScatter: q66's struct_pack explode for the
    // decimal centroid sums, the shared dot identity, decimal within-SS
    "q115_label_scatter" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ex AS (SELECT label, u.pos, CAST(u.x AS DECIMAL(28,12)) AS xd
        |       FROM e, unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS t(u)),
        |cd AS (SELECT label, pos, CAST(sum(xd) AS DOUBLE) / count(*) AS c
        |       FROM ex GROUP BY 1, 2),
        |cl AS (SELECT label, list(c ORDER BY pos) AS cv FROM cd GROUP BY 1),
        |gd AS (SELECT pos, CAST(sum(xd) AS DOUBLE) / count(*) AS c
        |       FROM ex GROUP BY 1),
        |g AS (SELECT list(c ORDER BY pos) AS gv FROM gd),
        |w AS (SELECT e.label, count(*) AS n,
        |        CAST(sum(CAST(
        |          list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, cl.cv)
        |            + list_dot_product(cl.cv, cl.cv) AS DECIMAL(28,6))) AS DOUBLE) AS within_ss
        |      FROM e JOIN cl ON e.label = cl.label GROUP BY e.label)
        |SELECT w.label, w.n, w.within_ss,
        |       w.n * (list_dot_product(cl.cv, cl.cv) - 2.0 * list_dot_product(cl.cv, g.gv)
        |              + list_dot_product(g.gv, g.gv)) AS between_ss
        |FROM w JOIN cl ON w.label = cl.label CROSS JOIN g
        |ORDER BY w.label""".stripMargin,

    // mirrors Stats.contingencyChi2: same cell/margin aggregation, same
    // left-assoc double expected/contribution arithmetic
    "q120_chi2" ->
      """WITH cells AS (SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS o
        |               FROM documents GROUP BY 1, 2),
        |rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS r_total FROM cells GROUP BY a),
        |cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS c_total FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_total FROM cells)
        |SELECT cells.a, cells.b, o, r_total, c_total,
        |  round(CAST(r_total AS DOUBLE) * CAST(c_total AS DOUBLE)
        |        / CAST(n_total AS DOUBLE), 6) AS expected,
        |  round((CAST(o AS DOUBLE) * CAST(n_total AS DOUBLE)
        |           - CAST(r_total AS DOUBLE) * CAST(c_total AS DOUBLE))
        |        * (CAST(o AS DOUBLE) * CAST(n_total AS DOUBLE)
        |           - CAST(r_total AS DOUBLE) * CAST(c_total AS DOUBLE))
        |        / (CAST(n_total AS DOUBLE) * CAST(r_total AS DOUBLE)
        |           * CAST(c_total AS DOUBLE)), 6) AS contrib
        |FROM cells JOIN rm ON cells.a = rm.a JOIN cm ON cells.b = cm.b
        |CROSS JOIN tot
        |ORDER BY cells.a, cells.b""".stripMargin,

    // mirrors Stats.olsByGroup: q60's tokenization for x, HUGEINT sums for
    // the closed-form products; hashed output is all-BIGINT — the
    // 10⁶-scaled half-away ratios (IntRatio.duckMicro), never the
    // DECIMAL(38,0) num/den (the r6-r8 hash-fail: wide decimals
    // canonicalize differently across harness representations)
    "q121_group_ols" ->
      s"""WITH d AS (SELECT source AS grp,
        |             CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS x,
        |             n_chars AS y
        |           FROM documents),
        |a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM d GROUP BY grp),
        |b AS (SELECT grp, n,
        |        CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS snum,
        |        CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS sden,
        |        CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS inum
        |      FROM a)
        |SELECT grp, n,
        |  CASE WHEN sden <> 0 THEN
        |    ${graft.functions.IntRatio.duckMicro("snum", "sden")}
        |  END AS slope_micro,
        |  CASE WHEN sden <> 0 THEN
        |    ${graft.functions.IntRatio.duckMicro("inum", "sden")}
        |  END AS icept_micro
        |FROM b ORDER BY grp""".stripMargin,

    "q119_rolling_anomaly" -> ANOMALY_SQL,
    "q122_streaming_anomaly" -> ANOMALY_SQL,

    // mirrors Corpus.bpeTrain: 10 unrolled merge rounds (see BPE_SQL)
    "q144_bpe_train" -> BPE_SQL(10),

    // train → encode: same 10 unrolled rounds, then the vocab join
    "q147_bpe_encode" -> BPE_ENCODE_SQL(10),

    // mirrors q127: same join tree, same decimal-revenue idiom
    "q127_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q131_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    // mirrors q132: revenue per custkey from the R-flag quarter join, then
    // customer + nation lookup, top 20
    "q132_tpch_q10" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |         JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q133_tpch_q14" ->
      """SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,

    "q141_tpch_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // same scalar-average spelling; NOT EXISTS (not NOT IN) so the oracle
    // shares the engine's left_anti semantics even if o_custkey ever
    // carried a NULL — NOT IN would then return zero rows while the anti
    // join keeps non-matching customers
    "q142_tpch_q22" ->
      """WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_bal
        |            FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // same numeric range frame over epoch seconds
    "q140_range_frame" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // unbucketed originals must agree with the bucketed-table join
    "q139_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the unpartitioned original must agree with the engine's
    // partitioned-layout read — gates the write→prune→read loop
    "q138_partition_pruning" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE source = 'src7'
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // q53's vocab ranked by row_number, indexed token structs unnested,
    // ids re-joined in position order — same drop-empty-docs semantics
    "q137_tokenize_ids" ->
      """WITH tk AS (
        |  SELECT doc_id, u.s.pos AS pos, u.s.tok AS tok
        |  FROM (SELECT doc_id,
        |          list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
        |            (x, i) -> struct_pack(pos := i - 1, tok := x)) AS st
        |        FROM documents) d, unnest(st) AS u(s)),
        |vc AS (SELECT tok, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INTEGER) AS id
        |       FROM (SELECT tok, count(*) AS n FROM tk GROUP BY tok
        |             ORDER BY n DESC, tok LIMIT 100) z),
        |j AS (SELECT tk.doc_id, tk.pos, coalesce(vc.id, 0) AS id
        |      FROM tk LEFT JOIN vc USING (tok))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ' ') AS ids
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // unit-normalize, 16-dim prefix, retained energy + renormalized lead —
    // same sequential list arithmetic as the engine
    "q135_matryoshka_energy" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |u AS (SELECT vec_id, nrm, list_transform(v, x -> x / nrm)[1:16] AS t16 FROM n)
        |SELECT vec_id, nrm AS full_norm,
        |  list_dot_product(t16, t16) AS energy16,
        |  t16[1] / sqrt(list_dot_product(t16, t16)) AS lead_component
        |FROM u ORDER BY vec_id""".stripMargin,

    // stage 1: prefix-cosine top-100 shortlist; stage 2: full-vector
    // rerank top-10 — both ranked (score DESC, vec_id ASC) like topkOf
    "q136_matryoshka_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |             v[1:32] AS p, sqrt(list_dot_product(v[1:32], v[1:32])) AS pnrm
        |      FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, p AS qp, pnrm AS qpnrm
        |      FROM n WHERE vec_id < 5),
        |s1 AS (SELECT q.qid, n.vec_id,
        |         list_dot_product(q.qp, n.p) / (q.qpnrm * n.pnrm) AS score
        |       FROM q JOIN n ON n.vec_id <> q.qid),
        |c AS (SELECT qid, vec_id FROM (
        |        SELECT qid, vec_id,
        |               row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        |        FROM s1) z WHERE rn <= 100),
        |s2 AS (SELECT c.qid, c.vec_id,
        |         list_dot_product(q.qv, n.v) / (q.qnrm * n.nrm) AS score
        |       FROM c JOIN q ON q.qid = c.qid JOIN n ON n.vec_id = c.vec_id)
        |SELECT qid, vec_id, score, rn FROM (
        |  SELECT qid, vec_id, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        |  FROM s2) z
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    // mirrors q134: per-order quantity sums are integer-valued doubles —
    // exact in any summation order, no decimal cast needed
    "q134_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |         JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    // mirrors Kmeans.covarianceMatrix: DuckDB lambda indexes are 1-based
    // (Spark's are 0-based), hence the -1 shifts; same decimal sums, same
    // pinned closed-form double order
    "q126_covariance" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |px AS (SELECT u.i, u.j, CAST(u.xy AS DECIMAL(28,12)) AS xy
        |       FROM e, unnest(flatten(list_transform(v, (x, i0) ->
        |         list_transform(v[i0:], (y, j0) ->
        |           struct_pack(i := i0 - 1, j := i0 + j0 - 2, xy := x * y))))) AS t(u)),
        |pairs AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
        |            sum(xy) AS sxy FROM px GROUP BY i, j),
        |mu AS (SELECT u.pos, CAST(sum(CAST(u.x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mu
        |       FROM e, unnest(list_transform(v, (x, i0) ->
        |         struct_pack(pos := i0 - 1, x := x))) AS t(u)
        |       GROUP BY u.pos)
        |SELECT i, j, n,
        |  round((CAST(sxy AS DOUBLE) - n * mi.mu * mj.mu) / (n - 1), 6) + 0.0 AS cov
        |FROM pairs JOIN mu mi ON pairs.i = mi.pos JOIN mu mj ON pairs.j = mj.pos
        |ORDER BY i, j""".stripMargin,

    // mirrors Bars.resampleFfill: bars → spans → range-exploded grid →
    // IGNORE NULLS forward fill (range end is exclusive, hence mx + step)
    "q123_resample_ffill" ->
      s"""WITH $M_CTE,
         |bars AS (
         |  SELECT hub, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start_s,
         |         (max({'ts': ts, 'seq': seq, 'px': price_mwh})).px AS close,
         |         CAST(count(*) AS BIGINT) AS n_ticks
         |  FROM m WHERE kind = 'price' GROUP BY 1, 2),
         |spans AS (SELECT hub, min(bucket_start_s) AS mn, max(bucket_start_s) AS mx
         |          FROM bars GROUP BY 1),
         |grid AS (SELECT hub, unnest(range(mn, mx + 3600, 3600)) AS bucket_start_s
         |         FROM spans)
         |SELECT g.hub, g.bucket_start_s,
         |  COALESCE(n_ticks, 0) AS n_ticks,
         |  bars.close IS NULL AS is_gap,
         |  last_value(bars.close IGNORE NULLS) OVER (
         |    PARTITION BY g.hub ORDER BY g.bucket_start_s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill
         |FROM grid g LEFT JOIN bars
         |  ON g.hub = bars.hub AND g.bucket_start_s = bars.bucket_start_s
         |ORDER BY 1, 2""".stripMargin,

    // mirrors q124: same q08 decimal-revenue idiom, same tie-broken top-10
    "q124_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    // mirrors Profile.histogram: floor-division bins over the double cast
    "q125_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000.0 AS bin_lo,
        |  count(*) AS n, min(o_totalprice) AS min_val, max(o_totalprice) AS max_val
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,

    // mirrors Corpus.pmiCollocations: q60's tokenization, zip-shifted
    // bigrams, the same left-assoc per-factor double product
    "q118_pmi" ->
      """WITH tk AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |            FROM documents),
        |tot AS (SELECT CAST(sum(length(toks)) AS BIGINT) AS n_tok,
        |               CAST(sum(greatest(length(toks) - 1, 0)) AS BIGINT) AS n_bi
        |        FROM tk),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
        |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair FROM (
        |         SELECT unnest(list_transform(range(1, length(toks)),
        |                  i -> struct_pack(w1 := toks[CAST(i AS INTEGER)],
        |                                   w2 := toks[CAST(i AS INTEGER) + 1]))) AS p
        |         FROM tk WHERE length(toks) >= 2) x
        |       CROSS JOIN LATERAL (SELECT p.w1 AS w1, p.w2 AS w2) u
        |       GROUP BY w1, w2 HAVING count(*) >= 20)
        |SELECT bg.w1, bg.w2, c_pair, u1.c AS c_w1, u2.c AS c_w2,
        |  round(CAST(c_pair AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)
        |    / (CAST(n_bi AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS lift
        |FROM bg JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w
        |CROSS JOIN tot
        |ORDER BY lift DESC, bg.w1, bg.w2
        |LIMIT 50""".stripMargin,

    // mirrors Profile.profile: per-column metrics over the string cast,
    // one UNION ALL branch per column (DuckDB's planner happily rescans;
    // the Spark side is the one-scan Expand)
    "q117_profile" ->
      (Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN CAST($c AS VARCHAR) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct,
           |  substr(min(CAST($c AS VARCHAR)), 1, 32) AS min_val,
           |  substr(max(CAST($c AS VARCHAR)), 1, 32) AS max_val,
           |  CAST(sum(length(CAST($c AS VARCHAR))) AS BIGINT) AS sum_len
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),

    // mirrors Eval.aucROC group-by-score + doubled-average-rank
    // arithmetic: cum window over the DISTINCT-score frame stands in for
    // the two-pass prefix sum, HUGEINT for the BigInteger accumulator.
    // Score = integer dot of floor(x·10⁶)-quantized components (floor of
    // one IEEE multiply — deterministic; 64-dim sums stay inside float64's
    // 2⁵³ exact range, so list_dot_product's double path is still exact).
    // Hashed output all-BIGINT: auc_micro via duckMicro, no wide decimals.
    "q116_auc" ->
      s"""WITH e AS (SELECT vec_id, label,
        |             list_transform(CAST(embedding AS DOUBLE[]),
        |               x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v
        |           FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |s AS (SELECT CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS pos,
        |             CAST(list_dot_product(e.v, q.qv) AS BIGINT) AS score
        |      FROM e CROSS JOIN q),
        |g AS (SELECT score, CAST(sum(pos) AS BIGINT) AS p,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM s GROUP BY score),
        |o AS (SELECT p, c, CAST(sum(c) OVER (ORDER BY score) AS BIGINT) AS cum FROM g),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |             CAST(sum(c) AS BIGINT) AS n_tot,
        |             sum(CAST(p AS HUGEINT) * (2 * (cum - c) + c + 1)) AS contrib
        |      FROM o),
        |u AS (SELECT n_pos, n_tot,
        |        contrib - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS anum,
        |        2 * CAST(n_pos AS HUGEINT) * (n_tot - n_pos) AS aden
        |      FROM t)
        |SELECT n_pos, n_tot - n_pos AS n_neg,
        |  CASE WHEN n_pos > 0 AND n_tot - n_pos > 0 THEN
        |    ${graft.functions.IntRatio.duckMicro("anum", "aden")}
        |  END AS auc_micro
        |FROM u""".stripMargin,

    // q64's one-multiply portable hash (ids < 2³²), per-source rank,
    // alphabetical source index, the same position arithmetic
    "q114_fair_interleave" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         (doc_id * 2654435761 + 40503) % 4294967296 AS h
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        |      FROM h),
        |s AS (SELECT source,
        |        row_number() OVER (ORDER BY source) - 1 AS src_idx,
        |        (SELECT count(DISTINCT source) FROM documents) AS k
        |      FROM (SELECT DISTINCT source FROM documents) z)
        |SELECT CAST((r.rn - 1) * s.k + s.src_idx AS BIGINT) AS pos,
        |       r.source, r.doc_id
        |FROM r JOIN s ON r.source = s.source
        |WHERE (r.rn - 1) * s.k + s.src_idx < 200
        |ORDER BY pos""".stripMargin,

    // q101's exact score recomputation + quantile_cont brackets + the same
    // strict-less bin case
    "q113_curriculum_bins" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(toks, tok ->
        |        CAST((((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                 list_transform(range(1, length(tok) + 1),
        |                   i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |                 (a, b) -> (a * 31 + b) % 1000000007)
        |               * 2654435761 + 40503) % 4294967296 % 1024)
        |              * 2654435761 + 40503) % 4294967296 AS DOUBLE)
        |          / 4294967296.0 - 0.5)),
        |      (a, b) -> a + b) AS score
        |  FROM tk),
        |ms AS (SELECT doc_id,
        |         CASE WHEN n_tokens = 0 THEN 0.0 ELSE score / n_tokens END AS mean_score
        |       FROM sc),
        |q AS (SELECT quantile_cont(mean_score, 0.25) AS p25,
        |             quantile_cont(mean_score, 0.5) AS p50,
        |             quantile_cont(mean_score, 0.75) AS p75 FROM ms)
        |SELECT doc_id, mean_score,
        |  CAST(CASE WHEN mean_score < p25 THEN 0
        |            WHEN mean_score < p50 THEN 1
        |            WHEN mean_score < p75 THEN 2 ELSE 3 END AS BIGINT) AS bin
        |FROM ms CROSS JOIN q ORDER BY doc_id""".stripMargin,

    // mirrors Graph.pagerank: q62's exact pair graph, then 5 unrolled
    // integer fixed-point rounds (// is DuckDB floor division ≡ Spark div
    // on the non-negative ranks/shares here)
    // MATERIALIZED hints: without them DuckDB inlines the CTEs, so the
    // O(n²) shingle-Jaccard pair join would re-evaluate once per reference
    // (2× in e × 5 unrolled rounds) — same answer, ~10× the oracle cost
    // at sf0.1. Materializing pins each to ONE evaluation.
    "q111_pagerank" -> {
      def round(i: Int) =
        s"""r$i AS (
           |  SELECT n.doc_id,
           |         CAST(150000000000 + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS rank
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS doc_id, sum(r.rank // dg.deg) AS inflow
           |    FROM e JOIN r${i - 1} r ON r.doc_id = e.src
           |           JOIN dg ON dg.src = e.src
           |    GROUP BY e.dst) s ON s.doc_id = n.doc_id)""".stripMargin
      s"""WITH $NEARDUP_PAIRS_CTE,
         |p2 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
         |e AS MATERIALIZED (
         |      SELECT doc_a AS src, doc_b AS dst FROM p2
         |      UNION ALL SELECT doc_b, doc_a FROM p2),
         |dg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |n AS (SELECT doc_id FROM documents),
         |r0 AS (SELECT doc_id, CAST(1000000000000 AS BIGINT) AS rank FROM n),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT doc_id, rank FROM r5 ORDER BY doc_id""".stripMargin
    },

    "q109_scd2" -> SCD2_SQL,
    "q112_streaming_scd2" -> SCD2_SQL,

    "q107_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_id AS seq FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |v AS (SELECT user_id, min({'ts': ts, 'seq': seq}) AS k1
        |      FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min({'ts': e.ts, 'seq': e.seq}) AS k2
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND {'ts': e.ts, 'seq': e.seq} > v.k1
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min({'ts': e.ts, 'seq': e.seq}) AS k3
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND {'ts': e.ts, 'seq': e.seq} > c.k2
        |      GROUP BY e.user_id)
        |SELECT u.user_id, (v.k1).ts AS s1_ts, (v.k1).seq AS s1_seq,
        |       (c.k2).ts AS s2_ts, (c.k2).seq AS s2_seq,
        |       (p.k3).ts AS s3_ts, (p.k3).seq AS s3_seq
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |       LEFT JOIN c ON u.user_id = c.user_id
        |       LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin,

    "q108_retention" ->
      """WITH e AS (SELECT user_id,
        |             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT) AS wk
        |           FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, wk AS active_week FROM e),
        |sz AS (SELECT cohort_week, count(*) AS n_cohort FROM f GROUP BY cohort_week),
        |r AS (SELECT f.cohort_week, a.active_week - f.cohort_week AS week_offset,
        |             count(*) AS n_active
        |      FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2)
        |SELECT r.cohort_week, r.week_offset, r.n_active, sz.n_cohort,
        |       CAST(r.n_active AS DOUBLE) / sz.n_cohort AS retention
        |FROM r JOIN sz ON r.cohort_week = sz.cohort_week
        |ORDER BY r.cohort_week, week_offset""".stripMargin,

    // mirrors Corpus.dedupPassages: q77's chunk explode at k=8, the q21
    // polynomial fingerprint per passage, min-(doc_id,pos) election,
    // filtered ordered reassembly (COALESCE: a doc whose every passage is
    // a dup reassembles to the empty string, like Spark's empty array).
    "q106_passage_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |l AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS len
        |      FROM tk WHERE length(toks) > 0),
        |c AS (SELECT doc_id, toks, unnest(range(0, (len - 1) // 8 + 1)) AS pos
        |      FROM l),
        |ch AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |         array_to_string(list_slice(toks, pos * 8 + 1, pos * 8 + 8), ' ') AS passage
        |       FROM c),
        |hh AS (SELECT doc_id, pos, passage,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(passage) + 1),
        |             i -> CAST(ascii(substr(passage, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |           (a, b) -> (a * 31 + b) % 1000000007) AS h
        |       FROM ch),
        |w AS (SELECT h, min({'doc_id': doc_id, 'pos': pos}) AS win
        |      FROM hh GROUP BY h),
        |j AS (SELECT hh.doc_id, hh.pos, hh.passage,
        |        (hh.doc_id = (w.win).doc_id AND hh.pos = (w.win).pos) AS keep
        |      FROM hh JOIN w ON hh.h = w.h)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_passages,
        |  COALESCE(array_to_string(list_transform(
        |    list_sort(COALESCE(list({'pos': pos, 'passage': passage}) FILTER (keep), [])),
        |    x -> x.passage), ' '), '') AS text_dedup
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same epoch-aligned bucketing as q14's oracle; sum instead of avg so
    // the streaming partial-aggregation path is exercised on a running sum.
    "q63_streaming_window" ->
      """SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT) AS bucket_start_s,
        |  event_type, count(*) AS n, sum(value) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start_s, event_type""".stripMargin,

    "q64_domain_quota" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         (doc_id * 2654435761 + 40503) % 4294967296 AS h
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        |      FROM h)
        |SELECT source, rn, h, doc_id FROM r WHERE rn <= 20
        |ORDER BY source, rn""".stripMargin,

    "q65_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rn
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, rn, term, tf, df, tfidf FROM r WHERE rn <= 5
        |ORDER BY doc_id, rn""".stripMargin,

    // Unrolled replay of one Lloyd step: assign to seeded centroids, mean
    // per (cluster, dimension) through exact DECIMAL(28,12) sums (order-
    // independent, so it matches Spark's partial-aggregated sums exactly),
    // rebuild centroid lists ordered by position, re-assign, summarize.
    "q66_kmeans_fit" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
        |d0 AS (SELECT e.vec_id, e.v, c0.cid,
        |        list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c0.cv)
        |          + list_dot_product(c0.cv, c0.cv) AS dist2
        |       FROM e CROSS JOIN c0),
        |a0 AS (SELECT vec_id, v, cid AS cluster,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |       FROM d0),
        |m AS (SELECT vec_id, v, cluster FROM a0 WHERE rn = 1),
        |ux AS (SELECT cluster, u.pos, CAST(u.x AS DECIMAL(28,12)) AS xd
        |       FROM m, unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS t(u)),
        |cs AS (SELECT cluster, pos, CAST(sum(xd) AS DOUBLE) / count(*) AS c
        |       FROM ux GROUP BY 1, 2),
        |c1 AS (SELECT cluster AS cid, list(c ORDER BY pos) AS cv FROM cs GROUP BY 1),
        |d1 AS (SELECT e.vec_id, c1.cid,
        |        list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c1.cv)
        |          + list_dot_product(c1.cv, c1.cv) AS dist2
        |       FROM e CROSS JOIN c1),
        |a1 AS (SELECT vec_id, cid AS cluster, dist2,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |       FROM d1)
        |SELECT cluster, count(*) AS n,
        |       CAST(sum(CAST(dist2 AS DECIMAL(28,6))) AS DOUBLE) AS inertia
        |FROM a1 WHERE rn = 1
        |GROUP BY cluster ORDER BY cluster""".stripMargin,

    "q67_heavy_hitters" ->
      """SELECT * FROM (VALUES
        |  ('mg_error_bound', TRUE),
        |  ('mg_size_bound', TRUE),
        |  ('mg_superset', TRUE),
        |  ('mg_underestimate', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    // q35's gaps-and-islands session reconstruction; plain double sum
    // (sessions are per-user and small, so FP order differences sit far
    // below the 6-dp hash).
    "q68_streaming_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(ts) OVER win IS NULL
        |                     OR ts - lag(ts) OVER win >= INTERVAL 30 MINUTE
        |                THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start_s,
        |       CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS sess_end_s,
        |       user_id, count(*) AS n, sum(value) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start_s""".stripMargin,

    // The full exact groupBy at the same n/(k+1) threshold — equal to the
    // sketch-then-exact-count pipeline by the MG superset guarantee.
    "q69_heavy_hitters_exact" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |n AS (SELECT count(*) AS n_tok FROM tk),
        |c AS (SELECT term, count(*) AS c FROM tk GROUP BY 1)
        |SELECT term, c FROM c, n
        |WHERE CAST(c AS DOUBLE) > CAST(n_tok AS DOUBLE) / 51.0
        |ORDER BY c DESC, term""".stripMargin,

    // q37's two-windows-per-event expansion, plain double sum (mirrors the
    // streaming plan's sum; per-window FP drift sits far below 6 dp).
    "q70_streaming_sliding" ->
      """SELECT bucket_start_s, event_type, count(*) AS n, sum(value) AS sum_value
        |FROM (
        |  SELECT unnest(generate_series(
        |      CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - 600) / 300) AS BIGINT) + 1,
        |      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) AS BIGINT))) * 300 AS bucket_start_s,
        |    event_type, value
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q71_streaming_interval_join" ->
      s"""WITH $M_CTE
         |SELECT t.seq AS t_seq, t.hub, p.seq AS p_seq, p.price_mwh AS p_px
         |FROM m t JOIN m p
         |  ON t.kind = 'trade' AND p.kind = 'price' AND p.hub = t.hub
         | AND p.ts >= t.ts - INTERVAL 5 MINUTE AND p.ts <= t.ts
         |ORDER BY t_seq, p_seq""".stripMargin,

    "q72_pack_shards" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |        sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tok
        |      FROM tk)
        |SELECT doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok,
        |       CAST((cum_tok - n_tok) // 2000 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,

    "q73_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|vector|stream)\b')) AS BIGINT) AS n_hits,
        |  regexp_replace(text, '\b(customer|vector|stream)\b', '[X]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Exact cross-source near-dup check for the src0 batch (same shingle/
    // Jaccard predicate as q23's oracle).
    "q74_incremental_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |    END AS sh
        |  FROM tk),
        |dup AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM sh a JOIN sh b
        |    ON a.source = 'src0' AND b.source <> 'src0' AND a.doc_id <> b.doc_id
        |  WHERE length(a.sh) > 0 AND length(b.sh) > 0
        |    AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.5)
        |SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM dup) AS is_dup
        |FROM documents d WHERE d.source = 'src0'
        |ORDER BY d.doc_id""".stripMargin,

    "q75_streaming_neardup" ->
      """SELECT * FROM (VALUES
        |  ('candidates_nonempty', TRUE),
        |  ('stream_covers_batch', TRUE),
        |  ('stream_subset_of_batch', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    // mirrors q192: the engine computes stream-vs-TTL-filtered-batch set
    // equality and the two regime counts internally; the oracle pins all
    // four booleans (same discipline as q75)
    "q192_streaming_neardup_ttl" ->
      """SELECT * FROM (VALUES
        |  ('stream_covers_ttl_batch', TRUE),
        |  ('stream_subset_of_ttl_batch', TRUE),
        |  ('ttl_expired_nonempty', TRUE),
        |  ('ttl_window_nonempty', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    // the real lag-window oracle for the TTL'd streaming dedup: rebuild
    // the tape's occurrence multiset (base at 2r s, id%5=0 at 2r+1 s,
    // id%10=0 at 3n+r s; r = row_number over id order), then a doc is a
    // keeper iff no same-content occurrence within the trailing
    // ttl = n//4 s — sliding-refresh semantics ≡ the lag predicate
    "q193_streaming_dedup_ttl" ->
      """WITH pos AS (
        |  SELECT doc_id, text,
        |         CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r,
        |         (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, text, 2 * r * 1000 AS ts_ms FROM pos
        |  UNION ALL
        |  SELECT doc_id, text, (2 * r + 1) * 1000 FROM pos WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, text, (3 * n + r) * 1000 FROM pos WHERE doc_id % 10 = 0),
        |l AS (
        |  SELECT doc_id, ts_ms,
        |         lag(ts_ms) OVER (PARTITION BY text ORDER BY ts_ms) AS prev
        |  FROM occ)
        |SELECT doc_id FROM l
        |WHERE prev IS NULL
        |   OR ts_ms - prev > (SELECT (count(*) // 4) * 1000 FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // NOTE: unnest(range(...)) in scalar context, NOT `FROM l, range(len)` —
    // DuckDB's range TABLE function rejects lateral column parameters
    // ("does not support lateral join column parameters"); the scalar list
    // form accepts them.
    "q77_chunk" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |l AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS len
        |      FROM tk WHERE length(toks) > 0),
        |c AS (SELECT doc_id, len, toks,
        |        unnest(range(0, (len - 1) // 40 + 1)) AS chunk_id
        |      FROM l)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(least(50, len - chunk_id * 40) AS BIGINT) AS n_tok,
        |       array_to_string(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50), ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // mirrors Quantize.quantize's codec op-for-op: amax from exact
    // float→double casts, scale = amax/127.0, codes = floor(x/scale + 0.5)
    "q78_quantize_int8" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id,
        |         CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale,
        |         CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(v, x -> CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT))
        |         END AS codes
        |  FROM q)
        |SELECT vec_id, scale,
        |       CAST(length(codes) AS BIGINT) AS n_dim,
        |       CAST(list_sum(codes) AS BIGINT) AS sum_code,
        |       CAST(list_min(codes) AS BIGINT) AS min_code,
        |       CAST(list_max(codes) AS BIGINT) AS max_code,
        |       CAST(length(list_filter(codes, x -> x = 0)) AS BIGINT) AS n_zero
        |FROM c
        |ORDER BY vec_id""".stripMargin,

    "q79_quantized_ann_quality" ->
      """SELECT * FROM (VALUES
        |  ('int8_knn_recall10', TRUE),
        |  ('int8_scores_exact', TRUE),
        |  ('nonempty', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q80_streaming_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
        |FROM documents GROUP BY text ORDER BY 1""".stripMargin,

    // BM25 arithmetic mirrored op-for-op (left-assoc, same cast points):
    // idf = ln(1 + ((N - df) + 0.5)/(df + 0.5)); avgdl = sum_tok/n_docs
    "q81_bm25" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |            FROM documents),
        |base AS (SELECT doc_id, toks, CAST(length(toks) AS BIGINT) AS n_tok FROM tk),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                 CAST(sum(n_tok) AS BIGINT) AS sum_tok FROM base),
        |tf AS (SELECT doc_id, n_tok, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, n_tok, unnest(toks) AS term FROM base) u
        |       WHERE term IN ('spark', 'vector', 'customer')
        |       GROUP BY 1, 2, 3),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.term,
        |         ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |           * (CAST(tf AS DOUBLE) * 2.2)
        |           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * CAST(tf.n_tok AS DOUBLE)) / (CAST(sum_tok AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS score
        |       FROM tf JOIN df USING (term), stats),
        |p AS (SELECT doc_id,
        |        max(CASE WHEN term = 'spark' THEN score END) AS s_spark,
        |        max(CASE WHEN term = 'vector' THEN score END) AS s_vector,
        |        max(CASE WHEN term = 'customer' THEN score END) AS s_customer
        |      FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(s_spark, 0.0) AS s_spark,
        |       COALESCE(s_vector, 0.0) AS s_vector,
        |       COALESCE(s_customer, 0.0) AS s_customer,
        |       COALESCE(s_spark, 0.0) + COALESCE(s_vector, 0.0) + COALESCE(s_customer, 0.0) AS bm25
        |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // √n weights (sqrt is IEEE-exact), 6-dp-rounded and summed as DECIMAL
    // so the normalizer is aggregation-order-independent; target_n by
    // largest-remainder rounding, mirroring Corpus.mixWeights op-for-op
    // (identical doubles -> identical remainders -> identical row_number)
    "q82_source_mix" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |        CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w_raw
        |      FROM c),
        |tot AS (SELECT sum(w_raw) AS w_sum FROM w),
        |sized AS (
        |  SELECT source, n_docs,
        |         CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE) AS weight,
        |         CAST(floor(CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE) * 1000.0) AS BIGINT) AS base,
        |         CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE) * 1000.0
        |           - CAST(CAST(floor(CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE) * 1000.0) AS BIGINT) AS DOUBLE) AS rem
        |  FROM w, tot),
        |d AS (SELECT 1000 - sum(base) AS deficit FROM sized)
        |SELECT source, n_docs, weight,
        |       base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= deficit
        |                   THEN 1 ELSE 0 END AS target_n
        |FROM sized, d
        |ORDER BY source""".stripMargin,

    "q97_ivfpq_ann_quality" ->
      """SELECT * FROM (VALUES
        |  ('ivfpq_knn_recall10', TRUE),
        |  ('ivfpq_no_pq_stage_loss', TRUE),
        |  ('ivfpq_nonempty', TRUE),
        |  ('ivfpq_scores_exact', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q128_pca" ->
      """SELECT * FROM (VALUES
        |  ('pca_basis_orthonormal', TRUE),
        |  ('pca_eigenpair_residual', TRUE),
        |  ('pca_eigenvalues_descending', TRUE),
        |  ('pca_nonempty', TRUE),
        |  ('pca_projected_mean_zero', TRUE),
        |  ('pca_projected_variance_matches', TRUE),
        |  ('pca_trace_preserved', TRUE),
        |  ('pca_variance_floor', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q86_pq_ann_quality" ->
      """SELECT * FROM (VALUES
        |  ('pq_knn_recall10', TRUE),
        |  ('pq_nonempty', TRUE),
        |  ('pq_scores_exact', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q84_jsonl_roundtrip" ->
      """SELECT doc_id, source, text FROM documents ORDER BY doc_id""",

    "q90_csv_roundtrip" ->
      """SELECT doc_id, source, text FROM documents ORDER BY doc_id""",

    "q96_cms_quality" ->
      """SELECT * FROM (VALUES
        |  ('cms_no_underestimate', TRUE),
        |  ('cms_nonempty', TRUE),
        |  ('cms_overcount_bounded', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q95_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS w,
        |         round(ln((CAST((doc_id * 2654435761 + 40503) % 4294967296 AS DOUBLE) + 0.5) / 4294967296.0)
        |               / CAST(length(text) AS DOUBLE), 6) AS key
        |  FROM documents)
        |SELECT rank, id, w, key FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY key DESC, id) AS BIGINT) AS rank, id, w, key
        |  FROM t) x
        |WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // thresholds spelled as the same double accumulation Spark performs
    // (0.8 then 0.8 + 0.1), so the boundary arithmetic is bit-identical
    "q94_train_split" ->
      """WITH h AS (SELECT doc_id AS id,
        |             (doc_id * 2654435761 + 40503) % 4294967296 AS h
        |           FROM documents)
        |SELECT id, h,
        |       CASE WHEN CAST(h AS DOUBLE) < 0.8 * 4294967296.0 THEN 'train'
        |            WHEN CAST(h AS DOUBLE) < (0.8 + 0.1) * 4294967296.0 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h ORDER BY id""".stripMargin,

    "q93_zorder_key" -> {
      val interleave = (0 until 16).map(i =>
        s"(((za >> $i) & 1) << ${2 * i}) | (((zb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH r AS (SELECT min(CAST(user_id AS DOUBLE)) AS alo, max(CAST(user_id AS DOUBLE)) AS ahi,
         |                  min(value) AS blo, max(value) AS bhi FROM events),
         |sc AS (SELECT event_id,
         |         CAST(least(floor((CAST(user_id AS DOUBLE) - alo) / (ahi - alo) * 65535.0), 65535) AS BIGINT) AS za,
         |         CAST(least(floor((value - blo) / (bhi - blo) * 65535.0), 65535) AS BIGINT) AS zb
         |       FROM events, r)
         |SELECT event_id, za, zb, CAST($interleave AS BIGINT) AS z
         |FROM sc ORDER BY event_id""".stripMargin
    },

    "q92_bloom_decontaminate" ->
      """SELECT * FROM (VALUES
        |  ('bloom_flags_superset', TRUE),
        |  ('bloom_fpp_under_2pct', TRUE),
        |  ('bloom_no_false_negatives', TRUE),
        |  ('bloom_nonempty', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q91_orc_roundtrip" ->
      """SELECT doc_id, source, text FROM documents ORDER BY doc_id""",

    "q85_streaming_latest" ->
      (s"""WITH $M_CTE,
        |p AS (SELECT seq, ts, hub, price_mwh FROM m WHERE kind = 'price')
        |SELECT hub, seq, ts, price_mwh FROM (
        |  SELECT hub, seq, ts, price_mwh,
        |         row_number() OVER (PARTITION BY hub ORDER BY ts DESC, seq DESC) AS rn
        |  FROM p) x
        |WHERE rn = 1 ORDER BY hub""").stripMargin,

    "q83_unigram_lm" ->
      """WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |            FROM documents),
        |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_tok, CAST(count(*) AS BIGINT) AS v_size FROM tc),
        |dtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
        |j AS (SELECT doc_id, tf,
        |        CAST(round(ln((CAST(c AS DOUBLE) + 1.0) / (CAST(t_tok AS DOUBLE) + CAST(v_size AS DOUBLE))), 6) AS DECIMAL(18,6)) AS logp
        |      FROM dtf JOIN tc USING (term), tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       -CAST(sum(tf * logp) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS mean_surprisal
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q76_sql_native_funcs" -> TOPK_PER_GROUP_SQL,

    "q58_decontaminate" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |            FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN length(toks) < 3 THEN CAST([] AS VARCHAR[])
        |              ELSE list_distinct(list_transform(range(1, length(toks) - 2 + 1),
        |                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
        |         END AS sh
        |       FROM tk),
        |ev AS (SELECT doc_id, sh, CAST(length(sh) AS BIGINT) AS n_sh FROM sh WHERE doc_id % 10 = 0),
        |tr AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 10 <> 0),
        |es AS (SELECT doc_id, unnest(sh) AS s FROM ev),
        |hits AS (SELECT es.doc_id, count(*) AS n_hit FROM es JOIN tr USING (s) GROUP BY 1)
        |SELECT ev.doc_id, ev.n_sh,
        |  CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
        |  CASE WHEN ev.n_sh = 0 THEN 0.0
        |       ELSE CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / ev.n_sh END AS frac,
        |  (CASE WHEN ev.n_sh = 0 THEN 0.0
        |        ELSE CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / ev.n_sh END) >= 0.5 AS contaminated
        |FROM ev LEFT JOIN hits ON ev.doc_id = hits.doc_id
        |ORDER BY 1""".stripMargin,

    "q59_hash_sample" ->
      """WITH rates AS (
        |  SELECT 'src' || CAST(i AS VARCHAR) AS stratum,
        |         [0.2, 0.5, 0.8][CAST(i % 3 AS INTEGER) + 1] AS rate
        |  FROM range(0, 20) t(i))
        |SELECT doc_id, source,
        |       (doc_id * 2654435761 + 40503) % 4294967296 AS h
        |FROM documents JOIN rates ON source = stratum
        |WHERE CAST((doc_id * 2654435761 + 40503) % 4294967296 AS DOUBLE)
        |      < rate * 4294967296.0
        |ORDER BY doc_id""".stripMargin,

    "q60_repetition_stats" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |            FROM documents),
        |base AS (SELECT doc_id,
        |           CAST(length(toks) AS BIGINT) AS n_tokens,
        |           CAST(length(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |           CASE WHEN length(toks) < 2 THEN CAST([] AS VARCHAR[])
        |                ELSE list_transform(range(1, length(toks)),
        |                       i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1])
        |           END AS bigrams
        |         FROM tk),
        |top AS (SELECT doc_id, max(c) AS top_bigram_n FROM (
        |          SELECT doc_id, bg, count(*) AS c FROM (
        |            SELECT doc_id, unnest(bigrams) AS bg FROM base) x
        |          GROUP BY doc_id, bg) y
        |        GROUP BY doc_id)
        |SELECT base.doc_id, n_tokens, n_distinct,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE CAST(n_distinct AS DOUBLE) / n_tokens END AS ttr,
        |  CAST(COALESCE(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |  CASE WHEN n_tokens < 2 THEN 0.0
        |       ELSE CAST(COALESCE(top_bigram_n, 0) AS DOUBLE) / (n_tokens - 1) END AS bigram_frac
        |FROM base LEFT JOIN top ON base.doc_id = top.doc_id
        |ORDER BY 1""".stripMargin,

    "q57_simhash_quality" ->
      """SELECT * FROM (VALUES
        |  ('simhash_nonempty', TRUE),
        |  ('simhash_recall_j09', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q44_ann_quality" ->
      """SELECT * FROM (VALUES
        |  ('ivf_knn_recall10', TRUE),
        |  ('lsh_dup_recall', TRUE),
        |  ('lsh_dup_scores_subset', TRUE),
        |  ('lsh_knn_recall10', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,

    "q26_cosine_dups" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |           FROM embeddings)
        |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |       list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS score
        |FROM n x JOIN n y ON x.vec_id < y.vec_id
        |WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q32_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q34_asof_join" ->
      s"""WITH $M_CTE,
         |w AS (
         |  SELECT *,
         |    last_value(CASE WHEN kind = 'price' THEN price_mwh END IGNORE NULLS) OVER win AS last_px,
         |    last_value(CASE WHEN kind = 'price' THEN seq END IGNORE NULLS) OVER win AS last_px_seq
         |  FROM m
         |  WINDOW win AS (PARTITION BY hub ORDER BY ts, seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT seq, ts, hub, account, side, mw, price_mwh, last_px, last_px_seq
         |FROM w WHERE kind = 'trade' ORDER BY seq""".stripMargin,

    "q87_asof_forward" ->
      s"""WITH $M_CTE,
         |w AS (
         |  SELECT *,
         |    last_value(CASE WHEN kind = 'price' THEN price_mwh END IGNORE NULLS) OVER win AS next_px,
         |    last_value(CASE WHEN kind = 'price' THEN seq END IGNORE NULLS) OVER win AS next_px_seq
         |  FROM m
         |  WINDOW win AS (PARTITION BY hub ORDER BY ts DESC, seq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT seq, ts, hub, account, side, mw, price_mwh, next_px, next_px_seq
         |FROM w WHERE kind = 'trade' ORDER BY seq""".stripMargin,

    "q88_salted_join" ->
      """WITH dim AS (SELECT event_type, CAST(count(*) AS BIGINT) AS type_n
        |             FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value, type_n
        |FROM events e JOIN dim USING (event_type)
        |ORDER BY event_id""".stripMargin,

    // mirrors q194: the derived salt count is pure integer arithmetic over
    // the key-frequency audit — ceil(max_c * n_keys / n_rows) clamped to
    // [1, 64] (HUGEINT product: the BigInt overflow guard's twin) — and
    // the joined rows are the plain inner join regardless of the decision
    "q194_skew_adaptive_join" ->
      """WITH f AS (SELECT event_id, value,
        |             CASE WHEN event_id % 10 < 9 THEN CAST(0 AS BIGINT)
        |                  ELSE event_id % 100 END AS k
        |           FROM events),
        |dim AS (SELECT k, CAST(count(*) AS BIGINT) AS k_n FROM f GROUP BY k),
        |audit AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |                 CAST(sum(k_n) AS BIGINT) AS n_rows,
        |                 CAST(max(k_n) AS BIGINT) AS max_c
        |          FROM dim)
        |SELECT f.event_id, f.k, f.value, dim.k_n,
        |       CAST(least(64, greatest(1,
        |         (CAST(max_c AS HUGEINT) * n_keys + n_rows - 1) // n_rows))
        |         AS INTEGER) AS salts
        |FROM f JOIN dim USING (k), audit
        |ORDER BY f.event_id""".stripMargin,

    "q89_global_sort" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value, event_id""".stripMargin,

    "q35_session_window" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(ts) OVER win IS NULL
        |                     OR ts - lag(ts) OVER win >= INTERVAL 30 MINUTE
        |                THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start_s,
        |       CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS sess_end_s,
        |       user_id, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start_s""".stripMargin,

    "q36_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q43_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q37_sliding_window" ->
      """SELECT bucket_start_s, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT unnest(generate_series(
        |      CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - 600) / 300) AS BIGINT) + 1,
        |      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) AS BIGINT))) * 300 AS bucket_start_s,
        |    event_type, value
        |  FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q38_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('small', 0.0, 10.0), ('mid', 10.0, 25.0), ('large', 25.0, 40.0), ('xl', 40.0, 55.0))
        |SELECT band, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q39_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q41_topk_per_group" -> TOPK_PER_GROUP_SQL,

    "q30_da_rt_latest" ->
      s"""WITH $DA_RT_CTES
         |SELECT * FROM (
         |  SELECT 'da' AS src, event_id, ts, hub, lmp_da AS lmp, energy_da AS energy,
         |         congestion_da AS congestion, loss_da AS loss
         |  FROM da ORDER BY ts DESC, event_id DESC LIMIT 8)
         |UNION ALL
         |SELECT * FROM (
         |  SELECT 'rt' AS src, event_id, ts, hub, lmp_rt AS lmp, energy_rt AS energy,
         |         congestion_rt AS congestion, loss_rt AS loss
         |  FROM rt ORDER BY ts DESC, event_id DESC LIMIT 8)
         |ORDER BY src, ts DESC, event_id DESC""".stripMargin,

    "q31_da_rt_spread" ->
      s"""WITH $DA_RT_CTES,
         |dal AS (SELECT hub, lmp_da FROM (
         |  SELECT hub, lmp_da, row_number() OVER (PARTITION BY hub ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM da) x WHERE rn = 1),
         |rtl AS (SELECT hub, lmp_rt FROM (
         |  SELECT hub, lmp_rt, row_number() OVER (PARTITION BY hub ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM rt) x WHERE rn = 1)
         |SELECT dal.hub AS hub, lmp_da, lmp_rt, lmp_rt - lmp_da AS spread
         |FROM dal JOIN rtl ON dal.hub = rtl.hub
         |ORDER BY hub""".stripMargin,

    "q28_media_features" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, least(length(text), 16) + 1),
        |        i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS head_hash,
        |  CAST(16 * (1 + ascii(substr(text, 1, 1)) % 64) AS BIGINT) AS width,
        |  CAST(16 * (1 + ascii(substr(text, 2, 1)) % 64) AS BIGINT) AS height,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(0 AS BIGINT) ELSE CAST(length(text) AS BIGINT) END AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    // the engine encodes a real PNG per doc with these exact dims and
    // decodes them back via javax.imageio; the oracle only has to predict
    // the arithmetic the encoder used
    "q129_image_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 32 AS BIGINT) AS width,
        |  CAST(8 + (doc_id // 32) % 32 AS BIGINT) AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    // resize gate: every re-decoded payload must carry the target dims
    "q130_image_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST(20 AS BIGINT) AS width,
        |  CAST(14 AS BIGINT) AS height
        |FROM documents WHERE doc_id % 5 = 0 ORDER BY media_id""".stripMargin,

    // the engine encodes a real PCM WAV per doc with these exact
    // parameters and walks the RIFF chunks back; the oracle predicts the
    // arithmetic the encoder used (duration via truncating integer div,
    // mirroring the engine's Long division)
    "q143_audio_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST([8000,16000,22050,44100][CAST(doc_id % 4 AS INTEGER) + 1] AS BIGINT) AS sample_rate,
        |  CAST(1 + (doc_id // 4) % 2 AS BIGINT) AS channels,
        |  CAST(400 + (doc_id % 50) * 7 AS BIGINT) AS n_samples,
        |  CAST((400 + (doc_id % 50) * 7) * 1000
        |       // [8000,16000,22050,44100][CAST(doc_id % 4 AS INTEGER) + 1] AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    // the engine encodes a minimal MP4 per doc with these exact parameters
    // and walks the ISO-BMFF boxes back (mvhd/tkhd/stts); the oracle
    // predicts the arithmetic the encoder used (duration via truncating
    // integer div, mirroring the engine's Long division)
    "q145_video_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST([600,1000,12288,90000][CAST(doc_id % 4 AS INTEGER) + 1] AS BIGINT) AS timescale,
        |  CAST((1000 + (doc_id % 77) * 13) * 1000
        |       // [600,1000,12288,90000][CAST(doc_id % 4 AS INTEGER) + 1] AS BIGINT) AS duration_ms,
        |  CAST(16 * (1 + doc_id % 120) AS BIGINT) AS width,
        |  CAST(16 * (1 + (doc_id // 3) % 68) AS BIGINT) AS height,
        |  CAST(24 + (doc_id % 97) * 3 AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    // frame pts replay: the encoder's stts is two runs — ceil(n/2) frames
    // at delta 100 then the rest at delta 120 — so frame i's pts in units
    // is a two-piece linear function; ms via truncating div by timescale
    "q146_frame_sample" ->
      """SELECT media_id, CAST(i * 10 AS BIGINT) AS frame_idx,
        |  CAST((CASE WHEN i * 10 < (nf + 1) // 2 THEN i * 10 * 100
        |        ELSE ((nf + 1) // 2) * 100 + (i * 10 - (nf + 1) // 2) * 120 END)
        |       * 1000 // ts AS BIGINT) AS pts_ms
        |FROM (SELECT doc_id AS media_id, nf, ts,
        |        unnest(generate_series(0, (nf - 1) // 10)) AS i
        |      FROM (SELECT doc_id, 24 + (doc_id % 97) * 3 AS nf,
        |              [600,1000,12288,90000][CAST(doc_id % 4 AS INTEGER) + 1] AS ts
        |            FROM documents))
        |ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors q148: EXISTS == the engine's left-semi; same 30-day lateness
    "q148_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q149_tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND sn.n_name IN ('NATION_3', 'NATION_7')
        |  AND cn.n_name IN ('NATION_3', 'NATION_7')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // mirrors q150: the customer-region membership is EXISTS == left-semi;
    // both share sums run over the identical decimal per-row values
    "q150_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN sn.n_name = 'NATION_5'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |  AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'ECONOMY'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM customer
        |              JOIN nation cn ON c_nationkey = cn.n_nationkey
        |              JOIN region ON cn.n_regionkey = r_regionkey
        |              WHERE c_custkey = o_custkey AND r_name = 'AMERICA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-row profit decimal-cast before the sum, same 0.6·retailprice cost
    // adaptation and left-assoc product order as the engine
    "q151_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // per-part value through EUROPE suppliers, threshold 0.1% of the total
    // re-aggregated from the same frame; compares in double on both sides
    "q152_tpch_q11" ->
      """WITH vals AS MATERIALIZED (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS value_dec
        |  FROM lineitem
        |  WHERE EXISTS (SELECT 1 FROM supplier
        |                JOIN nation ON s_nationkey = n_nationkey
        |                JOIN region ON n_regionkey = r_regionkey
        |                WHERE s_suppkey = l_suppkey AND r_name = 'EUROPE')
        |  GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
        |FROM vals, (SELECT CAST(sum(value_dec) AS DOUBLE) * 0.001 AS thr FROM vals) t
        |WHERE CAST(value_dec AS DOUBLE) > thr
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q153_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the priority predicate lives in the JOIN condition so zero-order
    // customers keep their c_count = 0 bucket, exactly like the engine's
    // left_outer condition
    "q154_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |      GROUP BY c_custkey) z
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // equality on the double is exact: both engines compute the identical
    // decimal-sum → double value, and max() picks one of those values
    "q155_tpch_q15" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // NOT EXISTS == the engine's left-anti against negative-balance
    // suppliers; distinct (partkey, suppkey) pairs stand in for partsupp
    "q156_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND NOT EXISTS (SELECT 1 FROM supplier
        |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // correlated per-part avg: quantities are integer-valued doubles, so
    // sum and avg are exact in any order on both engines
    "q157_tpch_q17" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    // nested EXISTS == the engine's semi-join chain: shipped volume > 30
    // of some red part in 1996, suppliers restricted to ASIA
    "q158_tpch_q20" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND EXISTS (
        |    SELECT 1 FROM (
        |      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |      GROUP BY l_partkey, l_suppkey) sh
        |    JOIN part ON p_partkey = sh.l_partkey
        |    WHERE sh.l_suppkey = s_suppkey AND qty > 30 AND p_name LIKE '%red%')
        |ORDER BY s_suppkey""".stripMargin,

    // the late frame is MATERIALIZED (it feeds the outer rows AND the
    // NOT EXISTS correlation); EXISTS/NOT EXISTS == the engine's
    // semi/anti joins on the same (orderkey, other-supplier) conditions
    "q159_tpch_q21" ->
      """WITH late AS MATERIALIZED (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AMERICA'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    // per-(part, supplier) min unit price stands in for ps_supplycost;
    // the min-equality join is exact double comparison of identically
    // computed values on both engines
    "q160_tpch_q2" ->
      """WITH cost AS MATERIALIZED (
        |  SELECT p_partkey, p_type, l_suppkey, s_name, s_acctbal, n_name,
        |         min(l_extendedprice / l_quantity) AS ucost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE' AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |mn AS (SELECT p_partkey AS m_partkey, min(ucost) AS mcost
        |       FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ucost
        |FROM cost JOIN mn ON p_partkey = m_partkey AND ucost = mcost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    // the PLAIN join — the engine's Bloom prefilter must change nothing
    // about the result, only the shuffled volume
    "q161_bloom_join" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-08-01'
        |  AND o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the identical 6 peel rounds unrolled over the shared exact pair set;
    // every round MATERIALIZED — each references its predecessor ~3×, so
    // DuckDB's CTE inlining would otherwise re-evaluate the whole chain
    // exponentially (the BPE-chain lesson in BASELINE.md)
    "q165_kcore" -> {
      def round(i: Int) =
        s"""k$i AS MATERIALIZED (SELECT n FROM (
           |  SELECT n, count(*) AS deg FROM (
           |    SELECT doc_a AS n FROM e${i - 1} UNION ALL SELECT doc_b FROM e${i - 1}) u
           |  GROUP BY n) d WHERE deg >= 2),
           |e$i AS MATERIALIZED (SELECT doc_a, doc_b FROM e${i - 1}
           |  WHERE doc_a IN (SELECT n FROM k$i) AND doc_b IN (SELECT n FROM k$i))""".stripMargin
      s"""WITH $NEARDUP_PAIRS_CTE,
         |e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
         |${(1 to 6).map(round).mkString(",\n")}
         |SELECT n AS doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT doc_a AS n FROM e6 UNION ALL SELECT doc_b FROM e6) u
         |GROUP BY n ORDER BY doc_id""".stripMargin
    },

    // mirrors q176: per-key lag window (the oracle's one-task spelling of
    // the engine's two-pass fragment stitch), same 30-min threshold
    "q176_tick_gaps" -> TICK_GAPS_SQL,

    // mirrors q184: running-peak window (the oracle's one-task spelling of
    // the engine's seam-combine), same floor(value*100) cents
    "q184_drawdown" -> DRAWDOWN_SQL,

    // mirrors q190: the same distinct (source, token) frame via unnest,
    // token self-join, duckMicro jaccard
    "q190_vocab_overlap" ->
      s"""WITH tk AS (
        |  SELECT DISTINCT source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM tk GROUP BY 1),
        |i AS (SELECT a.source AS sa, b.source AS sb,
        |        CAST(count(*) AS BIGINT) AS n_common
        |      FROM tk a JOIN tk b ON a.tok = b.tok AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT i.sa AS src_a, i.sb AS src_b, i.n_common,
        |  x.nv AS nv_a, y.nv AS nv_b,
        |  ${graft.functions.IntRatio.duckMicro(
             "i.n_common", "x.nv + y.nv - i.n_common")} AS jaccard_micro
        |FROM i JOIN s x ON i.sa = x.source JOIN s y ON i.sb = y.source
        |ORDER BY src_a, src_b""".stripMargin,

    // mirrors q191: cross-multiplied integer relative risk, same support
    // floor and pinned (rr desc, token asc) top-20
    "q191_distinctive_terms" ->
      s"""WITH t AS (
        |  SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS in_a,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(sum(in_a) AS BIGINT) AS ca,
        |        CAST(count(*) - sum(in_a) AS BIGINT) AS cb
        |      FROM t GROUP BY 1),
        |n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |        CAST(sum(cb) AS BIGINT) AS nb FROM c)
        |SELECT c.tok, c.ca, c.cb,
        |  ${graft.functions.IntRatio.duckMicro(
             "CAST(c.ca AS HUGEINT) * n.nb", "CAST(c.cb AS HUGEINT) * n.na")}
        |    AS rr_micro
        |FROM c, n WHERE c.ca >= 5 AND c.cb >= 1
        |ORDER BY rr_micro DESC, c.tok LIMIT 20""".stripMargin,

    // mirrors q189: Σ c² over the key's count frame in HUGEINT
    "q189_join_fanout" ->
      """WITH c AS (
        |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(max(c) AS BIGINT) AS max_count,
        |  CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS self_join_rows
        |FROM c""".stripMargin,

    // mirrors q188: first-view/first-subsequent-purchase lag per user,
    // quantile_cont over the lag frame (the q39 type-7 equivalence)
    "q188_conversion_lag" ->
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, v.v_ts, min(epoch_us(e.ts)) AS p_ts
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.v_ts
        |  GROUP BY 1, 2),
        |l AS (SELECT CAST(p_ts - v_ts AS DOUBLE) AS lag_us FROM p)
        |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewers,
        |  CAST(count(*) AS BIGINT) AS n_converted,
        |  quantile_cont(lag_us, 0.5) AS p50_lag,
        |  quantile_cont(lag_us, 0.9) AS p90_lag
        |FROM l""".stripMargin,

    // mirrors q187: per-group cumulative cohort counts (the window stands
    // in for the per-(partition, group) offset machinery), HUGEINT max
    "q187_ks_by_group" ->
      s"""WITH v AS (
        |  SELECT source AS g,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g1, n_chars AS x
        |  FROM documents),
        |n AS (SELECT g, CAST(sum(g1) AS BIGINT) AS n1,
        |        CAST(count(*) - sum(g1) AS BIGINT) AS n2 FROM v GROUP BY g),
        |c AS (SELECT g, x, sum(g1) AS c1, count(*) - sum(g1) AS c2
        |      FROM v GROUP BY g, x),
        |cum AS (SELECT g,
        |          sum(c1) OVER (PARTITION BY g ORDER BY x) AS cc1,
        |          sum(c2) OVER (PARTITION BY g ORDER BY x) AS cc2 FROM c),
        |m AS (SELECT cum.g,
        |        max(abs(CAST(cc1 AS HUGEINT) * n.n2
        |            - CAST(cc2 AS HUGEINT) * n.n1)) AS ks_num
        |      FROM cum JOIN n ON cum.g = n.g GROUP BY cum.g)
        |SELECT m.g AS source, n.n1, n.n2,
        |  CASE WHEN n.n1 > 0 AND n.n2 > 0 THEN
        |    ${graft.functions.IntRatio.duckMicro(
               "m.ks_num", "CAST(n.n1 AS HUGEINT) * n.n2")}
        |  END AS ks_micro
        |FROM m JOIN n ON m.g = n.g ORDER BY source""".stripMargin,

    // mirrors q186: the streaming drawdown's final per-stream state must
    // equal the batch audit — same oracle as q184
    "q186_streaming_drawdown" -> DRAWDOWN_SQL,

    // mirrors q185: rank() (min-rank ties) − 1 over n_chars = the engine's
    // cum-before; duckMicro over (n − 1)
    "q185_percent_rank" ->
      s"""WITH r AS (
        |  SELECT doc_id, n_chars,
        |    rank() OVER (ORDER BY n_chars) - 1 AS cum_before,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n > 1 THEN
        |    ${graft.functions.IntRatio.duckMicro("cum_before", "n - 1")}
        |  END AS pr_micro
        |FROM r ORDER BY doc_id""".stripMargin,

    // mirrors q181: row_number rank over the ascending (count, key) order
    // (the oracle's window stands in for the engine's two-pass rank), the
    // same all-integer Gini closed form via duckMicro
    "q181_key_skew" ->
      s"""WITH c AS (
        |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, k) AS rnk FROM c),
        |u AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(sum(c) AS BIGINT) AS n_rows,
        |        CAST(max(c) AS BIGINT) AS max_count,
        |        sum(CAST(rnk AS HUGEINT) * c) AS s_rc
        |      FROM r)
        |SELECT n_keys, n_rows, max_count,
        |  CASE WHEN n_keys > 0 AND n_rows > 0 THEN
        |    ${graft.functions.IntRatio.duckMicro(
               "2 * s_rc - (CAST(n_keys AS HUGEINT) + 1) * n_rows",
               "CAST(n_keys AS HUGEINT) * n_rows")}
        |  END AS gini_micro
        |FROM u""".stripMargin,

    // mirrors q182: the q116 integer scores, the same all-integer
    // equal-width binning ((score-lo)*10 // (hi-lo+1)), duckMicro rate
    "q182_calibration" ->
      s"""WITH e AS (SELECT vec_id, label,
        |             list_transform(CAST(embedding AS DOUBLE[]),
        |               x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v
        |           FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |s AS (SELECT CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS pos,
        |             CAST(list_dot_product(e.v, q.qv) AS BIGINT) AS score
        |      FROM e CROSS JOIN q),
        |mm AS (SELECT min(score) AS lo, max(score) AS hi FROM s),
        |b AS (SELECT pos,
        |        CASE WHEN hi = lo THEN 0
        |             ELSE ((score - lo) * 10) // (hi - lo + 1) END AS bin
        |      FROM s, mm),
        |g AS (SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(pos) AS BIGINT) AS n_pos
        |      FROM b GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  ${graft.functions.IntRatio.duckMicro("n_pos", "n")} AS pos_rate_micro
        |FROM g ORDER BY bin""".stripMargin,

    // mirrors q183: the streaming gap monitor's final per-stream state must
    // equal the batch audit — same oracle as q176
    "q183_streaming_gaps" -> TICK_GAPS_SQL,

    // mirrors q177: the exact all-pairs dup graph (the q23 equivalence)
    // rolled up by unordered source pair
    "q177_source_contamination" ->
      s"""WITH $NEARDUP_PAIRS_CTE
        |SELECT least(x.source, y.source) AS src_a,
        |  greatest(x.source, y.source) AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_dup_pairs
        |FROM pairs JOIN documents x ON pairs.doc_a = x.doc_id
        |           JOIN documents y ON pairs.doc_b = y.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // mirrors q178: the same floor(x*100) cents + integer-string leading
    // digit, share via duckMicro
    "q178_benford" ->
      s"""WITH c AS (
        |  SELECT substr(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit
        |  FROM lineitem),
        |d AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM d)
        |SELECT digit, n, n_total,
        |  ${graft.functions.IntRatio.duckMicro("d.n", "t.n_total")} AS share_micro
        |FROM d, t ORDER BY digit""".stripMargin,

    // mirrors q179: cumulative two-cohort counts over the distinct-value
    // frame (window stands in for the engine's range-partition prefix
    // sum), max |c1*n2 - c2*n1| in HUGEINT, duckMicro ratio
    "q179_ks_test" ->
      s"""WITH v AS (
        |  SELECT l_extendedprice AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |n AS (SELECT CAST(sum(g) AS BIGINT) AS n1,
        |        CAST(count(*) - sum(g) AS BIGINT) AS n2 FROM v),
        |c AS (SELECT x, sum(g) AS c1, count(*) - sum(g) AS c2
        |      FROM v GROUP BY x),
        |cum AS (SELECT sum(c1) OVER (ORDER BY x) AS cc1,
        |          sum(c2) OVER (ORDER BY x) AS cc2 FROM c),
        |m AS (SELECT max(abs(CAST(cc1 AS HUGEINT) * (SELECT n2 FROM n)
        |                 - CAST(cc2 AS HUGEINT) * (SELECT n1 FROM n))) AS ks_num
        |      FROM cum)
        |SELECT n.n1, n.n2,
        |  CASE WHEN n.n1 > 0 AND n.n2 > 0 THEN
        |    ${graft.functions.IntRatio.duckMicro(
               "m.ks_num", "CAST(n.n1 AS HUGEINT) * n.n2")}
        |  END AS ks_micro
        |FROM n, m""".stripMargin,

    // mirrors q180: gaps-and-islands (brk → island cumsum → island length
    // → per-key max) under the same (ts, event_id) order, strict increase
    "q180_streaks" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t, event_id, value FROM events),
        |o AS (
        |  SELECT event_type, t, event_id, value,
        |    lag(value) OVER (PARTITION BY event_type ORDER BY t, event_id) AS pv
        |  FROM e),
        |b AS (
        |  SELECT event_type, t, event_id,
        |    CASE WHEN pv IS NULL OR value <= pv THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |i AS (
        |  SELECT event_type,
        |    sum(brk) OVER (PARTITION BY event_type ORDER BY t, event_id) AS island
        |  FROM b),
        |r AS (SELECT event_type, island, CAST(count(*) AS BIGINT) AS len
        |      FROM i GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(len) AS BIGINT) AS n_ticks,
        |  max(len) AS longest_run
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors q174: exact all-pairs Jaccard candidates (the q23
    // equivalence) + the identical unit-cost levenshtein DP
    "q174_edit_dups" ->
      s"""WITH $NEARDUP_PAIRS_CTE
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist
        |FROM pairs JOIN documents x ON pairs.doc_a = x.doc_id
        |           JOIN documents y ON pairs.doc_b = y.doc_id
        |WHERE levenshtein(x.text, y.text) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,

    // mirrors q175: quantile_cont median + MAD (the q39/q164 type-7
    // equivalence), the same single-literal 4.4478 multiply
    "q175_mad_outliers" ->
      """WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        |  FROM lineitem GROUP BY 1),
        |dev AS (
        |  SELECT l.l_returnflag, med.med,
        |    abs(l.l_extendedprice - med.med) AS adev
        |  FROM lineitem l JOIN med USING (l_returnflag)),
        |mad AS (
        |  SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT dev.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN dev.adev > 4.4478 * mad.mad THEN 1 END) AS BIGINT) AS n_outliers,
        |  max(dev.med) AS med, max(mad.mad) AS mad
        |FROM dev JOIN mad USING (l_returnflag)
        |GROUP BY dev.l_returnflag ORDER BY dev.l_returnflag""".stripMargin,

    // mirrors q173: the q167 chunk arithmetic chained into a cumsum
    // window over the composite unit id (the oracle's one-task window
    // stands in for the engine's two-pass distributed prefix sum)
    "q173_chunk_pack" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok = 0 THEN 0
        |         ELSE 1 + (greatest(n_tok - 32, 0) + 23) // 24 END AS n_chunks
        |  FROM tk),
        |u AS (
        |  SELECT doc_id * 1024 + i AS unit_id,
        |    least(i * 24 + 32, n_tok) - i * 24 AS cost
        |  FROM c, unnest(range(0, CAST(n_chunks AS BIGINT))) AS t(i)),
        |p AS (
        |  SELECT unit_id, CAST(cost AS BIGINT) AS n_tok,
        |    CAST(sum(cost) OVER (ORDER BY unit_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        |  FROM u)
        |SELECT unit_id, n_tok, cum_tok,
        |  CAST((cum_tok - n_tok) // 256 AS BIGINT) AS shard
        |FROM p ORDER BY unit_id""".stripMargin,

    // mirrors q172: the q61 assignment arithmetic at 16 centroids, cell
    // frame rollup, imbalance = max·n_cells/n_vecs via duckMicro
    "q172_ivf_balance" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, c.cid,
        |        list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |          + list_dot_product(c.cv, c.cv) AS dist2
        |      FROM e CROSS JOIN c),
        |a AS (SELECT vec_id, cid AS cluster,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |      FROM d),
        |cells AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n
        |          FROM a WHERE rn = 1 GROUP BY cluster),
        |u AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |        CAST(sum(n) AS BIGINT) AS n_vecs,
        |        CAST(min(n) AS BIGINT) AS min_cell,
        |        CAST(max(n) AS BIGINT) AS max_cell
        |      FROM cells)
        |SELECT n_cells, n_vecs, min_cell, max_cell,
        |  CASE WHEN n_vecs > 0 THEN
        |    ${graft.functions.IntRatio.duckMicro(
               "CAST(max_cell AS HUGEINT) * n_cells", "n_vecs")}
        |  END AS imbalance_micro
        |FROM u""".stripMargin,

    // mirrors Pipeline.leakFreeSplit: q94's hash split + the exact
    // all-pairs dup graph (NEARDUP_PAIRS_CTE, the q23 equivalence) — a
    // non-train doc adjacent to any train doc becomes 'leak'
    "q171_leakage_split" ->
      s"""WITH $NEARDUP_PAIRS_CTE,
        |a AS (SELECT doc_id AS id,
        |        CASE WHEN CAST((doc_id * 2654435761 + 40503) % 4294967296 AS DOUBLE)
        |                  < 0.8 * 4294967296.0 THEN 'train'
        |             WHEN CAST((doc_id * 2654435761 + 40503) % 4294967296 AS DOUBLE)
        |                  < (0.8 + 0.1) * 4294967296.0 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM documents),
        |und AS (SELECT doc_a AS id, doc_b AS other FROM pairs
        |        UNION ALL
        |        SELECT doc_b AS id, doc_a AS other FROM pairs),
        |leaky AS (SELECT DISTINCT und.id
        |          FROM und JOIN a t ON und.other = t.id AND t.split = 'train')
        |SELECT a.id,
        |  CASE WHEN a.split = 'train' THEN 'train'
        |       WHEN a.id IN (SELECT id FROM leaky) THEN 'leak'
        |       ELSE a.split END AS split
        |FROM a ORDER BY a.id""".stripMargin,

    // mirrors Corpus.boilerplatePrefix: 3-token prefixes, count-desc/
    // prefix-asc argmax (window rn=1 stands in for the min-struct trick)
    "q170_boilerplate" ->
      """WITH p AS (
        |  SELECT source,
        |    array_to_string(list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, 3), ' ') AS prefix
        |  FROM documents),
        |c AS (SELECT source, prefix, CAST(count(*) AS BIGINT) AS cnt
        |      FROM p GROUP BY source, prefix),
        |t AS (SELECT source, prefix, cnt,
        |        row_number() OVER (PARTITION BY source ORDER BY cnt DESC, prefix) AS rn
        |      FROM c),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM documents GROUP BY source)
        |SELECT t.source, t.prefix AS top_prefix, t.cnt AS n_prefix_docs, n.n_docs
        |FROM t JOIN n ON t.source = n.source
        |WHERE rn = 1 ORDER BY t.source""".stripMargin,

    // mirrors Corpus.chunkPlan: q60's tokenization, the same integer ceil,
    // chunk spans via generate_series (range is exclusive-stop — +1)
    "q167_chunk_plan" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(length(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok = 0 THEN 0
        |         ELSE 1 + (greatest(n_tok - 32, 0) + 23) // 24 END AS n_chunks
        |  FROM tk)
        |SELECT doc_id, n_tok, n_chunks, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 24 AS BIGINT) AS tok_start,
        |  CAST(least(i * 24 + 32, n_tok) AS BIGINT) AS tok_end
        |FROM c, unnest(range(0, CAST(n_chunks AS BIGINT))) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // the same deterministic mutation + md5 fingerprints + full-outer id
    // join; statuses predicted by construction
    "q168_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
        |new AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5('new ' || text)
        |  FROM documents WHERE doc_id % 23 = 0),
        |j AS (SELECT o.h AS ho, new.h AS hn
        |      FROM old o FULL OUTER JOIN new ON o.doc_id = new.doc_id)
        |SELECT CASE WHEN ho IS NULL THEN 'added'
        |            WHEN hn IS NULL THEN 'removed'
        |            WHEN ho <> hn THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // mirrors Eval.cohensKappa: k x k cells, margins off the CELL frame,
    // HUGEINT closed form, duckMicro ratio — all-BIGINT output
    "q169_cohens_kappa" ->
      s"""WITH r AS (SELECT CAST(label AS BIGINT) AS a,
        |             CAST(CASE WHEN vec_id % 7 = 0 THEN (label + 1) % 10
        |                       ELSE label END AS BIGINT) AS b
        |           FROM embeddings),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY a, b),
        |am AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY a),
        |bm AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |          CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS n_agree
        |        FROM cells),
        |marg AS (SELECT coalesce(sum(CAST(ca AS HUGEINT) * cb), 0) AS s_marg
        |         FROM am JOIN bm ON am.a = bm.b),
        |u AS (SELECT n, n_agree,
        |        CAST(n AS HUGEINT) * n_agree - s_marg AS knum,
        |        CAST(n AS HUGEINT) * n - s_marg AS kden
        |      FROM tot CROSS JOIN marg)
        |SELECT n, n_agree,
        |  CASE WHEN kden <> 0 THEN
        |    ${graft.functions.IntRatio.duckMicro("knum", "kden")}
        |  END AS kappa_micro
        |FROM u""".stripMargin,

    // The planted-count PREDICTION: no regex anywhere — every column is
    // implied arithmetically by Redact.plantPii's modulus rules over a
    // corpus verified to contain zero accidental bank matches, and
    // n_residual must be identically 0 (complete sweep). Equality with the
    // engine's regex-recovered counts IS the redaction guarantee.
    "q166_redact_pii" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (doc_id % 7 = 0) AS BIGINT) AS n_email,
        |  CAST(count(*) FILTER (doc_id % 11 = 0) AS BIGINT) AS n_phone,
        |  CAST(count(*) FILTER (doc_id % 13 = 0) AS BIGINT) AS n_ipv4,
        |  CAST(0 AS BIGINT) AS n_residual
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // same type-7 interpolated caps (quantile_cont ≡ Percentiles.exact,
    // the q39 equivalence), same clamp + decimal sum + double division
    "q164_winsorize" ->
      """WITH caps AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(CASE WHEN l_extendedprice < lo THEN lo
        |                     WHEN l_extendedprice > hi THEN hi
        |                     ELSE l_extendedprice END AS DECIMAL(18,6))) AS DOUBLE) AS wsum,
        |  CAST(sum(CAST(CASE WHEN l_extendedprice < lo THEN lo
        |                     WHEN l_extendedprice > hi THEN hi
        |                     ELSE l_extendedprice END AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*) AS wmean
        |FROM lineitem JOIN caps USING (l_returnflag)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // ID-ordered 3-way join over the SAME exact pair set the engine's
    // LSH pipeline reproduces (q62's equivalence) — triangle counts are
    // orientation-invariant, so this equals the degree-oriented engine
    // count exactly
    "q163_triangles" -> {
      s"""WITH $NEARDUP_PAIRS_CTE
         |SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |FROM pairs p1
         |JOIN pairs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
         |JOIN pairs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b""".stripMargin
    },

    // q67's guarantee-boolean style for the streaming sketch, plus the
    // stream-total equality — all five must hold for any valid MG state
    "q162_streaming_heavy_hitters" ->
      """SELECT * FROM (VALUES
        |  ('mg_error_bound', TRUE),
        |  ('mg_size_bound', TRUE),
        |  ('mg_stream_total', TRUE),
        |  ('mg_superset', TRUE),
        |  ('mg_underestimate', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin
  )
}
