package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators.{HubState, MarketEvent, PnlKernel, PnlRow}

/** SMA ring-buffer state for the streaming forecast operator: the last ≤20
  * prices per key, newest last (reference keeps two ListState buffers —
  * ForecastsJob.java:77-81; one suffices since 5 ⊂ 20).
  */
final case class SmaState(window: Seq[Double])

/** EWMA running value per key — ONE double of state forever, the whole
  * point of the exponential family at scale.
  */
final case class EwmaState(s: Double)

/** Anomaly-detector ring state: the last ≤19 cents values per key, newest
  * last (window−1 — the current tick completes the window on arrival).
  */
final case class AnomalyState(cents: Seq[Long])

/** Doc ids seen in one LSH band bucket (streaming near-dup state). */
final case class BandBucket(ids: Seq[Long])

/** (id, 64-bit sketch) members of one pigeonhole chunk bucket (streaming
  * media near-dup state) — the sketch rides along so hamming verification
  * happens inside the fold, no stream-static fetch join.
  */
final case class SketchBucket(ids: Seq[Long], sks: Seq[Long])

/** TTL'd sketch bucket: members carry event time (ms) so arrivals evict
  * aged entries; kept ts-sorted under the monotone-event-time contract.
  */
final case class TimedSketchBucket(ids: Seq[Long], sks: Seq[Long], tsMs: Seq[Long])

/** TTL'd band bucket: members carry their event time (ms) so arrivals can
  * evict aged entries; kept (ts, id)-sorted — arrival order, since event
  * time is monotone under the replay/watermark contract.
  */
final case class TimedBandBucket(ids: Seq[Long], tsMs: Seq[Long])

/** Winning doc id for one content fingerprint (streaming exact dedup). */
final case class FirstSeen(docId: Long)

/** Last occurrence time (event ms) of one content fingerprint (TTL'd
  * streaming exact dedup).
  */
final case class LastSeen(tsMs: Long)

/** Raw timed event for the windowed-agg replay tape (SparkEntry q63). */
final case class TimedEvent(
    event_id: Long, ts: Timestamp, event_type: String, value: Double)

/** Per-user event for the session-window replay tape (SparkEntry q68). */
final case class UserEvent(
    event_id: Long, ts: Timestamp, user_id: Long, value: Double)

/** One matched (trade, price) pair from the streaming interval join,
  * typed for the memory-sink replay harness (SparkEntry q71).
  */
final case class IntervalPair(
    t_seq: Long, hub: String, p_seq: Long, p_px: Double)

/** One closed session from [[StreamingOps.sessionAgg]], typed for the
  * memory-sink replay harness (SparkEntry q68).
  */
final case class SessionAggRow(
    sess_start: Timestamp,
    sess_end: Timestamp,
    user_id: Long,
    n: Long,
    sum_value: Double)

/** One closed window from [[StreamingOps.windowedAgg]], typed so the
  * memory-sink replay harness can carry it (SparkEntry q63).
  */
final case class WindowAggRow(
    window_start: Timestamp,
    window_end: Timestamp,
    event_type: String,
    n: Long,
    sum_value: Double)

/** One closed OHLC+VWAP bar from [[StreamingOps.barsStream]], typed for
  * the memory-sink replay harness (SparkEntry q110). Option fields mirror
  * the batch full-outer shape: a bar that saw no prices (or no trades)
  * carries NULLs on that side.
  */
final case class BarRow(
    hub: String,
    bucket_start_s: Long,
    open: Option[Double],
    high: Option[Double],
    low: Option[Double],
    close: Option[Double],
    n_ticks: Option[Long],
    vwap: Option[Double],
    mw_total: Option[Long],
    n_trades: Option[Long])

/** One keyed attribute observation for the SCD2 replay tape (q112). */
final case class KeyedUpdate(key: Long, attr: String, ts: Timestamp, seq: Long)

/** Open-run state for streaming SCD2: the current attribute value and when
  * it started — one small row per key, forever.
  */
final case class ScdState(attr: String, fromTs: Timestamp, fromSeq: Long)

/** One SCD2 interval emission (closed or current-open) from
  * [[StreamingOps.scd2Stream]].
  */
final case class ScdRow(
    key: Long,
    attr: String,
    valid_from_ts: Timestamp,
    valid_from_seq: Long,
    valid_to_ts: Option[Timestamp],
    is_current: Boolean)

/** One document on the corpus tape ([[StreamingOps.heavyHittersStream]]). */
final case class DocTextEvent(doc_id: Long, source: String, text: String)

/** Per-source Misra-Gries state: parallel item/count vectors (≤ k entries),
  * the running token total, and a batch counter so the LAST emission per
  * source is identifiable in the update stream.
  */
final case class MgState(items: Seq[String], counts: Seq[Long],
    nTok: Long, batch: Long)

/** One per-batch sketch emission from [[StreamingOps.heavyHittersStream]]. */
final case class MgRow(source: String, batch: Long, items: Seq[String],
    ests: Seq[Long], n_tok: Long)

/** Per-stream tick-gap state for [[StreamingOps.tickGapStream]]: the O(1)
  * summary the batch audit's partition fragments also carry (first/last
  * ts-micros, tick count, max gap, gaps-over-threshold), plus a batch
  * counter so the LAST emission per key is identifiable. maxGap = -1 is
  * the "no gap yet" sentinel (single-tick key).
  */
final case class GapState(first: Long, last: Long, n: Long,
    maxGap: Long, nGt: Long, batch: Long)

/** One per-batch gap-audit emission from [[StreamingOps.tickGapStream]]. */
final case class GapRow(event_type: String, batch: Long, n_ticks: Long,
    span_us: Long, max_gap_us: Option[Long], n_gaps_gt: Long)

/** Per-stream drawdown state for [[StreamingOps.drawdownStream]]: running
  * peak, min, tick count and best peak-to-trough drop — the same O(1)
  * summary [[graft.operators.Sequential.maxDrawdown]]'s fragments fold to,
  * held live per stream.
  */
final case class DdState(n: Long, maxC: Long, minC: Long, best: Long,
    batch: Long)

/** One per-batch drawdown emission from [[StreamingOps.drawdownStream]]. */
final case class DdRow(event_type: String, batch: Long, n_ticks: Long,
    max_cents: Long, min_cents: Long, max_drawdown_cents: Long)

/** One forecast per input tick (reference ForecastsJob.java:82-85). */
final case class ForecastRow(
    seq: Long,
    ts: Timestamp,
    hub: String,
    price_mwh: Double,
    sma5: Double,
    sma20: Double,
    forecast_next: Double)

/** Streaming counterparts of the batch operators, as
  * `flatMapGroupsWithState` over the shared pure kernels (SURVEY.md §7:
  * "pure business-logic kernels usable from both Window/Aggregator (batch)
  * and flatMapGroupsWithState (streaming)").
  *
  * Within a micro-batch the group's events are sorted by `(ts, seq)` — the
  * pinned deterministic stand-in for the reference's nondeterministic Kafka
  * arrival order (SURVEY.md §7 "hard parts"). Across micro-batches state
  * carries over exactly like the reference's keyed state. The folds with
  * one state value per key share that skeleton ([[keyedFold]]).
  */
object StreamingOps {

  private def sortedKey(e: MarketEvent): (Long, Long) = (e.ts.getTime, e.seq)

  /** The per-hub folds' grouping. There are only a handful of hubs
    * (`MarketGen.Hubs`), so the input is coalesced to one partition: under
    * one state partition ([[withStatePartitions]]) that `SinglePartition`
    * already satisfies the stateful operator's distribution and the plan
    * has no shuffle at all. Under a larger count (a checkpoint that
    * recorded one, or a replay's `statePartitions`) Spark re-inserts the
    * hash exchange, so the fold's output does not depend on the count.
    */
  private def byHub(events: Dataset[MarketEvent]) = {
    val spark = events.sparkSession
    import spark.implicits._
    events.coalesce(1).groupByKey(_.hub)
  }

  /** Run `start` — a `writeStream...start()` — with the state-partition
    * count pinned to `n`. A stateful query takes its count from
    * `spark.sql.shuffle.partitions` when it first starts and records it in
    * its offset log (a restart reuses the recorded count), so the conf is
    * set only around `start()` and restored afterwards: it never leaks
    * into the rest of the session.
    */
  private[streaming] def withStatePartitions[A](spark: SparkSession, n: Int)(
      start: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try start finally spark.conf.set(key, prev)
  }

  /** The ordered per-key fold shared by the forecast, EWMA, anomaly, PnL,
    * SCD2, tick-gap and drawdown operators: each micro-batch's rows of a
    * group are sorted by `order`, `step` threads the state through them
    * (it sees `None` only for the key's first row ever), and `end` may
    * emit from the final state before it is stored. With `NoTimeout` Spark
    * calls a group only when it has rows, so a final state always exists.
    */
  private def keyedFold[K, I, S: Encoder, O: Encoder, T: Ordering](
      grouped: KeyValueGroupedDataset[K, I], mode: OutputMode, order: I => T)(
      step: (K, Option[S], I) => (S, IterableOnce[O]),
      end: (K, S) => (S, IterableOnce[O]) = (_: K, s: S) => (s, Nil)): Dataset[O] =
    grouped.flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout()) {
      (key, rows, state) =>
        val out = Vector.newBuilder[O]
        val st = rows.toVector.sortBy(order).foldLeft(state.getOption) { (prev, r) =>
          val (s, o) = step(key, prev, r); out ++= o; Some(s)
        }
        val (last, o) = end(key, st.get)
        state.update(last)
        (out ++= o).result().iterator
    }

  /** Streaming SMA5/SMA20 forecast per hub (reference ForecastsJob). */
  def forecastStream(events: Dataset[MarketEvent]): Dataset[ForecastRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold(byHub(events), OutputMode.Append(), sortedKey) {
      (hub: String, prev: Option[SmaState], e: MarketEvent) =>
        val w = (prev.fold(Vector.empty[Double])(_.window.toVector) :+ e.price_mwh)
          .takeRight(20)
        val last5 = w.takeRight(5)
        val sma5 = last5.sum / last5.size
        (SmaState(w), Some(ForecastRow(e.seq, e.ts, hub, e.price_mwh, sma5,
          w.sum / w.size, sma5)))
    }
  }

  /** Streaming EWMA per hub — [[graft.operators.Sma.ewmaStep]] in
    * [[keyedFold]], batch-equivalent by construction (same kernel, same
    * pinned per-batch `(ts, seq)` order, state carries the single running
    * double across micro-batches).
    */
  def ewmaStream(events: Dataset[MarketEvent], alpha: Double):
      Dataset[graft.operators.EwmaRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold(byHub(events), OutputMode.Append(), sortedKey) {
      (hub: String, prev: Option[EwmaState], e: MarketEvent) =>
        val v = graft.operators.Sma.ewmaStep(prev.map(_.s), e.price_mwh, alpha)
        (EwmaState(v), Some(graft.operators.EwmaRow(e.seq, e.ts, hub, e.price_mwh, v)))
    }
  }

  /** Streaming twin of [[graft.operators.Sma.rollingAnomalies]] (q119 ⇄
    * q122): per-key ring of the last `window−1` cents values; each arriving
    * tick completes its own 20-window, runs the SAME integer 3σ kernel
    * ([[graft.operators.Sma.anomalyScores]]), and emits ONLY if flagged —
    * Append mode, no watermark needed (the pinned (ts, seq) tape order is
    * the §2.1 S5 contract). State is `window−1` longs per key, forever.
    */
  def anomalyStream(events: Dataset[MarketEvent], window: Int = 20,
      z: Int = 3): Dataset[graft.operators.AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold(byHub(events), OutputMode.Append(), sortedKey) {
      (hub: String, prev: Option[AnomalyState], e: MarketEvent) =>
        val win = prev.fold(Vector.empty[Long])(_.cents.toVector) :+
          Math.round(e.price_mwh * 100)
        val flagged = if (win.length != window) None else {
          val (dev2, thr) = graft.operators.Sma.anomalyScores(win, z)
          Option.when(dev2 > thr)(
            graft.operators.AnomalyRow(e.seq, e.ts, hub, e.price_mwh, dev2, thr))
        }
        (AnomalyState(win.takeRight(window - 1)), flagged)
    }
  }

  /** Streaming PnL/positions per hub (reference PnlCalculator). */
  def pnlStream(events: Dataset[MarketEvent]): Dataset[PnlRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold(byHub(events), OutputMode.Append(), sortedKey) {
      (_: String, prev: Option[HubState], e: MarketEvent) =>
        PnlKernel.step(prev.getOrElse(HubState.empty), e)
    }
  }

  /** §2.7 extension — event-time windowed aggregation with a watermark.
    * The reference runs `noWatermarks()` everywhere (SURVEY §2.1 S5); this
    * is the event-time path it lacks: tumbling (slide = None) or sliding
    * windows over `tsCol`, append-mode-finalizable because the watermark
    * bounds state. Rows later than `watermarkDelay` behind the max seen
    * event time are dropped by state eviction — asserted in StreamingSpec.
    *
    * Scale shape: partial aggregation before the shuffle on (window, key),
    * state per open window only; watermark eviction keeps the store bounded
    * regardless of stream length.
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowDur: String, slide: Option[String],
      watermarkDelay: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = slide.fold(window(col(tsCol), windowDur))(s => window(col(tsCol), windowDur, s))
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(w, col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("n"), col("sum_value"))
  }

  /** Streaming SCD2 maintenance — [[graft.operators.Scd.scd2]]'s twin as a
    * CDC-style [[keyedFold]] (Update mode): each key
    * carries its open run (attr, from) as state; an attribute change emits
    * the CLOSED predecessor interval exactly once, and the current open
    * interval is (re-)emitted every batch it could have changed in — the
    * upsert stream a warehouse MERGEs into its dimension table. The final
    * table is `latest emission per (key, valid_from_seq)` with closed
    * superseding open — which equals the batch scd2 output exactly (gated
    * on the same oracle, q112).
    */
  def scd2Stream(updates: Dataset[KeyedUpdate]): Dataset[ScdRow] = {
    val spark = updates.sparkSession
    import spark.implicits._
    def row(key: Long, s: ScdState, to: Option[Timestamp]) =
      ScdRow(key, s.attr, s.fromTs, s.fromSeq, to, is_current = to.isEmpty)
    keyedFold(updates.groupByKey(_.key), OutputMode.Update(),
        (e: KeyedUpdate) => (e.ts.getTime, e.seq))(
      (key: Long, prev: Option[ScdState], e: KeyedUpdate) => prev match {
        case Some(s) if s.attr == e.attr => (s, None) // run continues
        case _ => // first run, or a change closes the predecessor
          (ScdState(e.attr, e.ts, e.seq), prev.map(row(key, _, Some(e.ts))))
      },
      (key: Long, s: ScdState) => (s, Some(row(key, s, None))))
  }

  /** Streaming OHLC+VWAP bars — [[graft.operators.Bars.ohlcVwap]]'s twin
    * as ONE watermarked conditional aggregate: both market kinds fold in a
    * single `groupBy(window, hub)` (price ticks feed the struct arg-min/max
    * and high/low, trades feed the exact-decimal VWAP sums), so no
    * stream-stream full-outer join exists — the batch version's reunion
    * join becomes conditional aggregation, which streaming state handles
    * natively. Bars close exactly once when the watermark passes the
    * window end (OutputMode.Append); `when(count > 0)` nullification keeps
    * the output shape identical to the batch full-outer result, so the
    * same oracle gates both.
    */
  def barsStream(events: DataFrame, barLen: String,
      watermarkDelay: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tick = struct(col("ts"), col("seq"), col("price_mwh").as("px"))
    val isP = col("kind") === "price"
    val isT = col("kind") === "trade"
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), barLen), col("hub"))
      .agg(min(when(isP, tick)).as("o"),
        max(when(isP, col("price_mwh"))).as("high"),
        min(when(isP, col("price_mwh"))).as("low"),
        max(when(isP, tick)).as("c"),
        count(when(isP, lit(1))).as("np"),
        sum(when(isT, col("price_mwh").cast("decimal(18,6)") * col("mw"))).as("pv"),
        sum(when(isT, col("mw"))).as("mwt"),
        count(when(isT, lit(1))).as("nt"))
      .select(col("hub"), unix_timestamp(col("window.start")).as("bucket_start_s"),
        col("o.px").as("open"), col("high"), col("low"), col("c.px").as("close"),
        when(col("np") > 0, col("np")).as("n_ticks"),
        (col("pv").cast("double") / col("mwt")).as("vwap"),
        col("mwt").cast("long").as("mw_total"),
        when(col("nt") > 0, col("nt")).as("n_trades"))
  }

  /** §2.7 extension — streaming session windows (gap-based) behind a
    * watermark: sessions close when the watermark passes last-event + gap,
    * so append mode finalizes each session exactly once. Batch-oracle
    * counterpart: q35_session_window.
    */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, gap: String, watermarkDelay: String): DataFrame = {
    import org.apache.spark.sql.functions._
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col(keyCol), col("n"), col("sum_value"))
  }

  /** §2.7 extension — watermarked stream-stream interval join: each left
    * row pairs with right rows of the same key whose timestamp falls in
    * [leftTs − lookbackSec, leftTs]. This is the declarative cousin of the
    * PnL CoProcess (trade → recent prices): watermarks on BOTH sides bound
    * the join state, so Spark can discard right rows older than
    * watermark − lookback instead of buffering the stream forever.
    *
    * The equality key is (key, lookback-width time bucket), not the bare
    * key: Spark's symmetric hash join probes EVERY stored same-key row per
    * arrival and post-filters on the range, so with a low-cardinality key
    * (4 hubs) the probe is quadratic within key — measured 21 s on the
    * sf0.1 tape vs ~4 s bucketed. A left row in bucket b only matches
    * right rows in buckets {b−1, b}, so the left stream is exploded into
    * those two candidate buckets (same trick as the batch
    * [[graft.operators.Joins]] range join) and the fine predicate keeps
    * exactness. Bucket values derive from the event-time column, so
    * watermark state cleanup is unaffected.
    *
    * Column contract: `left` has (key, ts, ...); `right` has (key2, ts2,
    * ...) with names disjoint from left's.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      lookbackSec: Long, watermarkDelay: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, expr, floor, unix_timestamp}
    val lb = left.withWatermark(leftTs, watermarkDelay)
      .withColumn("bkt", explode(array(
        floor(unix_timestamp(col(leftTs)) / lookbackSec) - 1,
        floor(unix_timestamp(col(leftTs)) / lookbackSec))))
    val rb = right.withWatermark(rightTs, watermarkDelay)
      .withColumn("bkt2", floor(unix_timestamp(col(rightTs)) / lookbackSec))
    lb.join(rb,
        expr(s"""$leftKey = $rightKey AND bkt = bkt2 AND
                 $rightTs >= $leftTs - INTERVAL $lookbackSec SECONDS AND
                 $rightTs <= $leftTs"""))
      .drop("bkt", "bkt2")
  }

  /** §2.7 extension — streaming exact dedup with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): duplicates of a key arriving within
    * the watermark delay collapse to one row; state for keys older than the
    * watermark is evicted, so the store is bounded — the streaming face of
    * the batch `Dedup.exact` pipeline op.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming exact dedup by CONTENT (the streaming face of Dedup.exact):
    * emits each arriving doc's id the first time its content fingerprint
    * is seen; later copies are swallowed — the keepers of
    * [[CurationStream.exactKeepStream]], one fold and one state (a
    * `FirstSeen` per fingerprint) for both. Within a micro-batch the min id
    * wins, so when the tape arrives in id order the kept set is exactly
    * Dedup.exact's canonical min-id-per-group — the q80 gate hash-checks
    * that equality against the batch oracle.
    *
    * Fingerprint contract — the streaming analogue of Dedup.exact's
    * documented sha-256 argument: the state key is TWO independent
    * xxhash64 lanes (unsalted + salted) plus the exact length, i.e. a
    * 128-bit content fingerprint ([[contentFp128]]). A false drop needs a
    * distinct-content pair colliding in BOTH lanes at equal length —
    * approximately 2⁻¹²⁸ per pair IF the lanes were independent universal
    * hashes; they are two seeds of one related non-cryptographic family,
    * so treat the figure as an order-of-magnitude heuristic, not a proven
    * bound (see [[contentFp128]]'s caveat). Even discounted by many
    * orders, at 10¹⁰ distinct docs the expected false-drop mass stays
    * negligible for non-adversarial dedup — the content-addressed-storage
    * trade the batch op documents; an adversarial feed should fingerprint
    * with sha2-256 upstream. The extra lane costs one more long of state
    * per distinct content.
    *
    * State is two longs per distinct fingerprint — the streaming dedup
    * index; unbounded by design, like the batch dedup's group count (use
    * [[dedupStream]]'s watermarked form when ids stop arriving after a
    * bounded delay). builtin `dropDuplicates` would keep a partition-order-
    * dependent row per key within a batch; the explicit min fold is what
    * pins determinism.
    */
  def exactDedupStream(docs: DataFrame, idCol: String, textCol: String): Dataset[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    CurationStream.exactKeepStream(docs, idCol, textCol).filter(_._2).map(_._1)
  }

  /** 128-bit streaming content fingerprint: two xxhash64 lanes (the second
    * seeded by a salt prefix) plus the exact length as a co-key.
    * Independence caveat: the lanes are two parameterizations of ONE
    * non-cryptographic hash family, not independent universal hashes, so
    * the composite behaves as "approximately 128 bits" — quantified
    * collision claims built on it are heuristic (structured-but-non-
    * adversarial inputs may correlate the lanes); a load-bearing bound
    * should derive both lanes from one cryptographic digest (e.g. the two
    * halves of sha2-256) at ~2× scan cost. Shared by every
    * streaming exact-dedup keying ([[exactDedupStream]],
    * [[exactDedupStreamTtl]], CurationStream.exactKeepStream) so the
    * collision contract is stated — and changed — in exactly one place.
    *
    * STATE-FORMAT BREAK (r12): widening the grouping key from
    * (hash, length) to (hash, hash2, length) changes the
    * flatMapGroupsWithState key schema, so a query resuming from a
    * checkpoint written by the 2-long version fails Spark's state-schema
    * validation at restart. Migration is drain-and-restart with a fresh
    * checkpoint (for the TTL op, state re-forms within one TTL window;
    * for the unbounded op, replay the retained tape or accept a one-time
    * duplicate-admission window) — the standard stateful-upgrade
    * procedure for any key-schema change.
    */
  private[streaming] def contentFp128(
      textCol: org.apache.spark.sql.Column):
      (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    (xxhash64(textCol),
      xxhash64(lit("graft-fp2:"), textCol),
      length(textCol).cast("long"))
  }

  /** TTL'd streaming exact dedup — the BOUNDED-STATE variant of
    * [[exactDedupStream]], whose fingerprint set is the other
    * linear-in-distinct-content streaming state (BASELINE r9 table;
    * [[nearDupCandidatesStreamTtl]] is the band-index sibling). Contract:
    * a doc is a KEEPER iff no identical content occurred within the last
    * `ttlMs` of event time; every occurrence — keeper or dup — REFRESHES
    * the window (sliding semantics: "have I seen this in the last N
    * hours", the de-ingest check as actually deployed). That makes the
    * emitted keeper set exactly
    *   lag(ts) OVER (PARTITION BY content ORDER BY ts) IS NULL OR
    *   ts − lag(ts) > ttl
    * — plain SQL, so the q193 gate is a REAL DuckDB oracle, not a pinned
    * boolean.
    *
    * State is one (fingerprint → last-seen ms) entry per content seen in
    * the trailing TTL window ([[contentFp128]]'s 128-bit key — the same
    * quantified collision contract as [[exactDedupStream]]) — rate × TTL,
    * not corpus size: an event-time
    * timeout at lastSeen + ttl removes the entry (any later arrival would
    * have been a keeper anyway, and a fresh entry re-forms — timing of the
    * timer never changes output, only memory). Same watermark caveat as
    * the band index: event times must be strictly positive.
    *
    * `watermarkDelay` MUST be "0 seconds" (enforced): the state fold
    * refreshes `lastSeen` with each arrival's ts unconditionally, which is
    * correct only when event time is monotone ACROSS batches — exactly
    * what delay-0 guarantees (every event at-or-before the previous
    * batch's max is dropped as late). A nonzero delay would admit an
    * in-window out-of-order arrival that rewinds `lastSeen` and corrupts
    * the sliding-window decision for its successors. Out-of-order feeds
    * need an upstream reorder stage, not a looser watermark here.
    */
  def exactDedupStreamTtl(docs: DataFrame, idCol: String, tsCol: String,
      textCol: String, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[Long] = {
    import org.apache.spark.sql.functions._
    require(ttlMs > 0, "ttlMs must be positive")
    require(watermarkDelay == "0 seconds",
      "exactDedupStreamTtl requires monotone event time (watermarkDelay = \"0 seconds\"); " +
        "reorder upstream instead of loosening the watermark")
    val spark = docs.sparkSession
    import spark.implicits._
    val (h1, h2, ln) = contentFp128(col(textCol))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"),
        h1.as("fp_h1"), h2.as("fp_h2"), ln.as("fp_len"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp, Long, Long, Long)]
      .groupByKey(r => (r._3, r._4, r._5))
      .flatMapGroupsWithState[LastSeen, Long](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last: Option[Long] = state.getOption.map(_.tsMs)
            val out = Vector.newBuilder[Long]
            it.toVector.map(r => (r._2.getTime, r._1)).sorted.foreach {
              case (ts, id) =>
                if (!last.exists(p => ts - p <= ttlMs)) out += id
                last = Some(ts)
            }
            state.update(LastSeen(last.get))
            state.setTimeoutTimestamp(math.max(last.get + ttlMs + 1,
              state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Streaming pigeonhole near-dup index for 64-bit sketches — MEDIA DEDUP
    * AT INGEST, the streaming twin of [[graft.operators.Dedup
    * .hamming64Pairs]] and the sketch-family sibling of
    * [[nearDupCandidatesStream]]: arrivals carry (id, sketch); each of the
    * sketch's 4 16-bit chunks indexes a state bucket holding its members'
    * (id, sketch) pairs, and an arrival emits the EXACT-verified pair
    * (min, max, hamming) against every earlier member of a shared bucket
    * at hamming ≤ maxHamming. Unlike the text band index there is NO
    * stream-static verify join: the 8-byte sketch IS the content, so
    * verification is one popcount inside the fold — state stays 16 bytes
    * per member per chunk and the operator emits FINAL pairs. At-least-
    * once across chunks (a close pair shares up to 4 buckets) —
    * `distinct()` downstream, the q75 convention.
    *
    * Pigeonhole exactness: hamming ≤ 3 ⇒ ≥ 1 identical chunk, so over an
    * id-ordered tape the distinct emitted set EQUALS the batch
    * hamming64Pairs answer (the q204 gate hash-checks that equality
    * against the same all-pairs oracle as q199). A bucket at `maxBucket`
    * members stops admitting — the keep-first-K contract shared with the
    * batch capBuckets and the band index.
    */
  def sketchNearDupStream(docs: DataFrame, idCol: String, skCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.functions._
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(skCol).cast("long").as("sk"))
      .as[(Long, Long)]
      // bucket key packs (chunk index, 16-bit chunk value) into one long
      .flatMap { case (id, sk) =>
        (0 until 4).map(ci =>
          (ci.toLong * 65536L + ((sk >>> (ci * 16)) & 0xFFFFL), id, sk))
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[SketchBucket, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          var ids = state.getOption.map(_.ids).getOrElse(Seq.empty).toVector
          var sks = state.getOption.map(_.sks).getOrElse(Seq.empty).toVector
          val member = scala.collection.mutable.HashSet.from(ids)
          val out = Vector.newBuilder[(Long, Long, Long)]
          it.toVector.sortBy(_._2).foreach { case (_, id, sk) =>
            if (ids.size < maxBucket && member.add(id)) {
              var i = 0
              while (i < ids.length) {
                val h = java.lang.Long.bitCount(sks(i) ^ sk).toLong
                if (h <= maxHamming)
                  out += ((math.min(ids(i), id), math.max(ids(i), id), h))
                i += 1
              }
              ids = ids :+ id
              sks = sks :+ sk
            }
          }
          state.update(SketchBucket(ids, sks))
          out.result().iterator
      }
  }

  /** TTL'd [[sketchNearDupStream]] — the rate×TTL BOUNDED-STATE variant
    * the content-growing media index needs at 100 TB/day (the same
    * relationship [[nearDupCandidatesStreamTtl]] bears to
    * [[nearDupCandidatesStream]]): an arrival pairs only with bucket
    * members whose event time is within the trailing `ttlMs` (gap ≤ ttl
    * kept — eviction is strictly-older-than-cutoff), verified in the fold
    * and emitted as final (min, max, hamming) pairs. State per bucket is
    * its in-window members (24 bytes each); an event-time timeout drops
    * buckets whose newest member can no longer pair. Same monotone-event-
    * time watermark contract as the other TTL ops (`require`d).
    *
    * `maxBucket` semantics — NOT the batch capBuckets contract: a bucket at
    * capacity refuses the ARRIVAL (it emits no pairs in that bucket and is
    * not indexed there), and because TTL eviction frees slots, later
    * arrivals can be re-admitted — "first K within the sliding window"
    * rather than batch's keep-first-K-ever. A refused admission is a
    * recall loss against that bucket's in-window members, so the fold logs
    * one WARN per (bucket, batch) with the refusal count — audit the log
    * (or raise `maxBucket`) before trusting recall on a skewed sketch
    * distribution.
    */
  def sketchNearDupStreamTtl(docs: DataFrame, idCol: String, tsCol: String,
      skCol: String, ttlMs: Long, maxHamming: Int = 3, maxBucket: Int = 10000,
      watermarkDelay: String = "0 seconds"): Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.functions._
    require(ttlMs > 0, "ttlMs must be positive")
    require(watermarkDelay == "0 seconds",
      "sketchNearDupStreamTtl requires monotone event time (watermarkDelay = \"0 seconds\"); " +
        "reorder upstream instead of loosening the watermark")
    val spark = docs.sparkSession
    import spark.implicits._
    // chunk explode stays in the DataFrame world: a typed flatMap would
    // re-serialize the tuple and DROP the watermark tag on ts, and
    // EventTimeTimeout requires a watermarked input (the band-index op's
    // explode-before-.as pattern)
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"),
        col(skCol).cast("long").as("sk"))
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"), col("sk"),
        explode(array((0 until 4).map(ci =>
          lit(ci.toLong * 65536L) +
            shiftrightunsigned(col("sk"), ci * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as("bucket"))
      .as[(Long, Timestamp, Long, Long)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[TimedSketchBucket, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (bucket, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members: Vector[(Long, Long, Long)] = state.getOption
              .map(s => s.tsMs.lazyZip(s.ids).lazyZip(s.sks).toVector)
              .getOrElse(Vector.empty)
            val member = scala.collection.mutable.HashSet.from(members.map(_._2))
            val out = Vector.newBuilder[(Long, Long, Long)]
            var refused = 0
            it.map(e => (e._2.getTime, e._1, e._3)).toVector.sorted.foreach {
              case (ts, id, sk) =>
                val cutoff = ts - ttlMs
                var drop = 0
                while (drop < members.size && members(drop)._1 < cutoff) {
                  member -= members(drop)._2; drop += 1
                }
                if (drop > 0) members = members.drop(drop)
                if (members.size >= maxBucket && !member.contains(id)) refused += 1
                else if (member.add(id)) {
                  members.foreach { case (_, prev, psk) =>
                    val h = java.lang.Long.bitCount(psk ^ sk).toLong
                    if (h <= maxHamming)
                      out += ((math.min(prev, id), math.max(prev, id), h))
                  }
                  members = members :+ ((ts, id, sk))
                }
            }
            if (refused > 0)
              org.slf4j.LoggerFactory.getLogger("graft.streaming.StreamingOps")
                .warn(s"sketchNearDupStreamTtl bucket $bucket at maxBucket=" +
                  s"$maxBucket refused $refused arrival(s) this batch " +
                  "(recall loss against in-window members)")
            if (members.isEmpty) state.remove()
            else {
              state.update(TimedSketchBucket(members.map(_._2),
                members.map(_._3), members.map(_._1)))
              state.setTimeoutTimestamp(math.max(members.last._1 + ttlMs + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Folds one token into a Misra-Gries counter map in place: increment if
    * tracked, insert if a slot is free, else decrement EVERY counter and
    * drop zeros (the classic step — this is the branch that forgets tail
    * items). Pure enough to unit-test directly; shared by the stream fold.
    */
  def mgAdd(m: scala.collection.mutable.LinkedHashMap[String, Long], k: Int,
      tok: String): Unit = {
    if (m.contains(tok)) m(tok) += 1
    else if (m.size < k) m(tok) = 1L
    else {
      val ks = m.keys.toVector
      ks.foreach { ky =>
        val c = m(ky) - 1
        if (c == 0L) m.remove(ky) else m(ky) = c
      }
    }
  }

  /** Streaming twin of the q67 Misra-Gries heavy-hitters sketch, keyed by
    * document source: state per source is ≤ k counters + the running token
    * total — bounded forever, never the vocabulary — and each micro-batch
    * folds its documents' tokens in doc_id order through the SAME classic
    * MG step as the batch aggregate ([[graft.functions.MisraGries]]'s
    * update path, sequential form). Emits the full sketch per touched
    * source per batch (Update mode); the last emission per source is the
    * final state, and it carries the deterministic MG GUARANTEES
    * (superset / underestimate / n/(k+1) error / size ≤ k) against the
    * exact per-source counts — which is what the q162 gate checks, since
    * raw MG estimates are legitimately merge-order-dependent.
    *
    * Tokenization mirrors [[graft.functions.Text.tokens]] (single-space
    * split, empties dropped) so stream and exact counts see identical
    * tokens.
    */
  def heavyHittersStream(docs: Dataset[DocTextEvent], k: Int): Dataset[MgRow] = {
    require(k > 0, "k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(_.source)
      .mapGroupsWithState[MgState, MgRow](GroupStateTimeout.NoTimeout()) {
        case (source, it, state) =>
          val st = state.getOption.getOrElse(MgState(Nil, Nil, 0L, 0L))
          val m = scala.collection.mutable.LinkedHashMap
            .newBuilder[String, Long].addAll(st.items.zip(st.counts)).result()
          var n = st.nTok
          it.toVector.sortBy(_.doc_id).foreach { d =>
            // null text ≡ zero tokens, matching Text.tokens' batch-side
            // null drop — the stream must not NPE where the exact side skips
            Option(d.text).getOrElse("")
              .split(" ", -1).iterator.filter(_.nonEmpty).foreach { tok =>
              n += 1
              mgAdd(m, k, tok)
            }
          }
          val batch = st.batch + 1
          state.update(MgState(m.keys.toVector, m.values.toVector, n, batch))
          MgRow(source, batch, m.keys.toVector, m.values.toVector, n)
      }
  }

  /** Full-microsecond instant of a Timestamp (getTime alone truncates to
    * millis; the tape's gaps are microsecond-grained).
    */
  private def tsMicros(ts: Timestamp): Long =
    (ts.getTime - ts.getNanos / 1000000) * 1000L + ts.getNanos / 1000

  private def tickKey(e: TimedEvent): (Long, Long) = (tsMicros(e.ts), e.event_id)

  /** Streaming twin of [[graft.operators.Sequential.tickGapAudit]]: the
    * live missing-interval monitor a feed operator runs WHILE the tape
    * lands, instead of auditing it afterwards. State per stream is the
    * same O(1) summary the batch operator's partition fragments fold to
    * (first/last micros, n, max gap, gaps > threshold) — the state store
    * is key-bounded (one ~48 B row per stream), NOT history-bounded, so it
    * holds at any tape length; each micro-batch emits the refreshed audit
    * row for exactly the streams it touched (Update mode). Events must
    * arrive in the pinned (ts, seq) order (the S5 no-watermark contract);
    * within a batch [[keyedFold]] re-sorts them, because the group's
    * iterator guarantees grouping, not order.
    */
  def tickGapStream(events: Dataset[TimedEvent],
      thresholdUs: Long): Dataset[GapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold(events.groupByKey(_.event_type), OutputMode.Update(), tickKey)(
      (_: String, prev: Option[GapState], e: TimedEvent) => {
        val t = tsMicros(e.ts)
        (prev.fold(GapState(t, t, 1L, -1L, 0L, 0L)) { st =>
          val g = t - st.last
          st.copy(last = t, n = st.n + 1, maxGap = math.max(st.maxGap, g),
            nGt = if (g > thresholdUs) st.nGt + 1 else st.nGt)
        }, Nil)
      },
      (key: String, st: GapState) => {
        val s = st.copy(batch = st.batch + 1)
        (s, Some(GapRow(key, s.batch, s.n, s.last - s.first,
          Option.when(s.maxGap >= 0)(s.maxGap), s.nGt)))
      })
  }

  /** Streaming twin of [[graft.operators.Sequential.maxDrawdown]]: the
    * live peak-to-trough risk monitor. The sequential fold max(best,
    * peak − c) needs only the running peak, so state is O(1) per stream
    * (key-bounded at any tape length); value quantized to cents by the
    * caller-matched floor(value·100) (one IEEE multiply + floor,
    * deterministic). Same arrival contract as [[tickGapStream]].
    */
  def drawdownStream(events: Dataset[TimedEvent]): Dataset[DdRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold(events.groupByKey(_.event_type), OutputMode.Update(), tickKey)(
      (_: String, prev: Option[DdState], e: TimedEvent) => {
        val st = prev.getOrElse(DdState(0L, Long.MinValue, Long.MaxValue, 0L, 0L))
        val c = math.floor(e.value * 100).toLong
        (DdState(st.n + 1, math.max(st.maxC, c), math.min(st.minC, c),
          math.max(st.best, math.max(st.maxC, c) - c), st.batch), Nil)
      },
      (key: String, st: DdState) => {
        val s = st.copy(batch = st.batch + 1)
        (s, Some(DdRow(key, s.batch, s.n, s.maxC, s.minC, s.best)))
      })
  }

  /** Reference R3/R4 ("DISTINCT ON … ORDER BY ts DESC") as a live view:
    * the latest row per key maintained incrementally with
    * `mapGroupsWithState` in Update mode, instead of recomputed by a
    * window over the whole table on every read. Each micro-batch emits the
    * new latest row for exactly the keys it touched; state holds one row
    * per key, so the store size is the key cardinality, not the stream
    * length.
    */
  def latestPerGroupStream[K, T](ds: Dataset[T], key: T => K,
      order: T => (Long, Long))(
      implicit ke: org.apache.spark.sql.Encoder[K],
      te: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    ds.groupByKey(key)
      .mapGroupsWithState[T, T](GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          val best = (it ++ state.getOption.iterator).maxBy(order)
          state.update(best)
          best
      }

  /** Streaming MinHash-LSH near-dup candidates — the streaming face of
    * [[graft.operators.Dedup.minhashLsh]]. Each LSH band bucket keys a
    * state holding the doc ids seen in that bucket (the same inverted
    * index the batch band join materializes as a shuffle); an arriving doc
    * emits one candidate pair per id already in any of its buckets.
    *
    * Contract: pairs are at-least-once (a pair sharing several buckets or
    * split across micro-batches can repeat) — dedup/verify downstream,
    * exactly like the batch pipeline's `distinct()` + exact-verify step.
    * Bucket state grows with the corpus, which IS the inverted index's
    * size; at scale it lives in the state store (RocksDB), and the sketch
    * parameters bound the bucket fan-out per doc. A bucket that reaches
    * `maxBucket` members goes COLD: arrivals into it stop emitting pairs
    * and stop growing its state — the SAME contract as the batch cap
    * (Dedup.capBuckets keeps a hot bucket's first maxBucket members by id),
    * so when arrival order is id order the stream's capped candidate set
    * equals the batch join's exactly (the q75 gate), and one boilerplate
    * cluster can never emit B² pairs over the stream's lifetime.
    */
  def nearDupCandidatesStream(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, numBands: Int = 8,
      maxBucket: Int = 10000): Dataset[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val r = numHashes / numBands
    require(numBands * r == numHashes, "numBands must divide numHashes")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.Text.bands(
          call_function("graft_minhash",
            call_function("graft_shingles", col(textCol), lit(shingleN)),
            lit(numHashes)), numBands, r)).as("band"))
      .as[(Long, Long)].map { case (id, band) => (band, id) }
      .groupByKey(_._1)
      .flatMapGroupsWithState[BandBucket, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          var seen = state.getOption.map(_.ids).getOrElse(Seq.empty).toVector
          // Set mirror for O(1) membership — a Seq.contains per arrival
          // would be quadratic over a hot bucket's stream life
          val member = scala.collection.mutable.HashSet.from(seen)
          val out = Vector.newBuilder[(Long, Long)]
          it.map(_._2).toVector.sorted.foreach { id =>
            if (seen.size < maxBucket && member.add(id)) {
              seen.foreach(prev => out += ((math.min(prev, id), math.max(prev, id))))
              seen = seen :+ id
            }
          }
          state.update(BandBucket(seen))
          out.result().iterator
      }
  }

  /** TTL'd streaming MinHash-LSH near-dup candidates — the BOUNDED-STATE
    * variant of [[nearDupCandidatesStream]] (whose band index grows
    * linearly with distinct content, the one streaming family measured to
    * do so). Production near-dup checks rarely need "duplicate of
    * anything EVER"; they need "duplicate of anything in the last N
    * hours/days" — this operator implements that contract, and its state
    * is bounded by arrival-rate × TTL instead of corpus size.
    *
    * Semantics: an arriving doc emits one candidate pair per doc already
    * in any of its band buckets whose event time is within `ttlMs` of the
    * arrival's; members older than that are evicted from the bucket
    * before the arrival joins it. Since event time is monotone over the
    * replayed/watermarked stream, the emitted pair set is EXACTLY the
    * batch band join filtered to |ts_a − ts_b| ≤ ttlMs (the q192 gate
    * equality). At-least-once like the batch pipeline — dedup downstream.
    *
    * Boundedness comes in two layers:
    *   1. arrival-time compaction — an arrival into a live bucket drops
    *      aged members in place (correctness lives here: the emit filter
    *      is exact regardless of timer timing);
    *   2. event-time TIMEOUT — a bucket whose newest member has aged past
    *      the watermark by `ttlMs` is REMOVED entirely (memory lives
    *      here: dormant buckets cannot hold state forever; every member
    *      is provably expired for any future arrival, because event time
    *      past the watermark only moves forward).
    * Requires a watermark on `tsCol` (set internally, `watermarkDelay`).
    * Watermark caveat: rows at-or-before the CURRENT watermark are dropped
    * by the stateful operator's late-data filter — in particular the
    * initial watermark is epoch 0 ms, so event times must be strictly
    * positive (the q192 tape starts at 1 s for exactly this reason).
    *
    * The `maxBucket` cap applies to the bucket's CURRENT window (eviction
    * frees capacity) — a boilerplate cluster still can't emit B² pairs in
    * any one window, and unlike the unbounded variant a cold bucket warms
    * back up once its hot content ages out.
    *
    * `watermarkDelay` MUST be "0 seconds" (enforced): bucket members are
    * appended in arrival order and the eviction scan stops at the first
    * unexpired member, which is correct only when the member list is
    * ts-sorted — guaranteed across batches only by delay-0's monotone
    * event time (in-batch arrivals are explicitly re-sorted). A nonzero
    * delay would let an in-window out-of-order arrival land AFTER newer
    * members, breaking the sorted invariant so eviction could stop early
    * and emit or miss pairs incorrectly. Reorder upstream instead.
    */
  def nearDupCandidatesStreamTtl(docs: DataFrame, idCol: String,
      tsCol: String, textCol: String, ttlMs: Long,
      shingleN: Int = 3, numHashes: Int = 32, numBands: Int = 8,
      maxBucket: Int = 10000, watermarkDelay: String = "0 seconds"): Dataset[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val r = numHashes / numBands
    require(numBands * r == numHashes, "numBands must divide numHashes")
    require(ttlMs > 0, "ttlMs must be positive")
    require(watermarkDelay == "0 seconds",
      "nearDupCandidatesStreamTtl requires monotone event time (watermarkDelay = \"0 seconds\"); " +
        "reorder upstream instead of loosening the watermark")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"),
        explode(graft.functions.Text.bands(
          call_function("graft_minhash",
            call_function("graft_shingles", col(textCol), lit(shingleN)),
            lit(numHashes)), numBands, r)).as("band"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[TimedBandBucket, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state) =>
          if (state.hasTimedOut) {
            // newest member aged ttl past the watermark ⇒ every member is
            // expired for any future arrival — drop the whole bucket
            state.remove()
            Iterator.empty
          } else {
            var members: Vector[(Long, Long)] = state.getOption
              .map(s => s.tsMs.zip(s.ids).toVector).getOrElse(Vector.empty)
            val member = scala.collection.mutable.HashSet.from(members.map(_._2))
            val out = Vector.newBuilder[(Long, Long)]
            // (ts, id)-sorted arrivals keep in-batch eviction monotone
            it.map(e => (e._2.getTime, e._1)).toVector.sorted.foreach {
              case (ts, id) =>
                val cutoff = ts - ttlMs
                var drop = 0
                while (drop < members.size && members(drop)._1 < cutoff) {
                  member -= members(drop)._2; drop += 1
                }
                if (drop > 0) members = members.drop(drop)
                if (members.size < maxBucket && member.add(id)) {
                  members.foreach { case (_, prev) =>
                    out += ((math.min(prev, id), math.max(prev, id)))
                  }
                  members = members :+ ((ts, id))
                }
            }
            if (members.isEmpty) state.remove()
            else {
              state.update(TimedBandBucket(members.map(_._2), members.map(_._1)))
              // fire once the newest member can no longer pair with any
              // future arrival; never at-or-before the current watermark
              state.setTimeoutTimestamp(math.max(members.last._1 + ttlMs + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Dual-sink writer for one PnL query — the reference chains the exposure
    * map on the PnL operator's output and feeds two JDBC sinks from one job
    * (PnlAndExposureJob.java:57-76; SURVEY.md §3 E3). In Structured Streaming
    * that is one `writeStream.foreachBatch` writing both tables from the same
    * batch DataFrame — one state store, two appends. A new query starts
    * with one state partition ([[pnlStream]] keys by hub, a handful of keys).
    */
  def writePnlAndExposure(pnl: Dataset[PnlRow], outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = pnl.sparkSession
    import spark.implicits._
    withStatePartitions(spark, 1) {
      pnl.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: Dataset[PnlRow], _: Long) =>
          val b = batch.persist()
          b.write.mode("append").parquet(s"$outDir/positions_pnl")
          b.map(PnlKernel.exposure).write.mode("append").parquet(s"$outDir/price_exposure")
          b.unpersist()
          ()
        }
        .start()
    }
  }
}
