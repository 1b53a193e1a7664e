package graft.pipebench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.{LocalDateTime, OffsetDateTime, ZoneOffset}

import scala.collection.mutable

import graft.model.{DaLmp, PriceTick, RtLmp, Trade}
import graft.operators.{ExposureRow, HubState, MarketEvent, PnlKernel, PnlRow}
import graft.sources.{MarketGen, TapePublisher}

/** A seeded `MarketGen` tape cut into benchmark steps. One step is `k`
  * market steps (4k price ticks, about k/2 trades) plus the DA/RT LMPs of
  * the same simulated span: market steps are 200 ms apart and LMP steps
  * 1 s apart, so a step holds k/5 LMP steps.
  */
final class StepTape(seed: Long, val k: Int, val steps: Int) {
  require(k > 0 && k % 5 == 0, s"k must be a positive multiple of 5: $k")
  private val hubs = MarketGen.Hubs.size
  private val lmpPerStep = k / 5
  private val market = MarketGen.marketTape(seed, steps * k)
  private val lmp = MarketGen.lmpTape(seed + 1, steps * lmpPerStep)

  // trade ids count every market step from 1, so trade i belongs to
  // market step trade_id - 1; DA rows come in blocks of `hubs` every 10
  // LMP steps
  private val tradesBy = market.trades.groupBy(t => ((t.trade_id - 1) / k).toInt)
  private val daBy = lmp.da.zipWithIndex
    .groupBy { case (_, j) => (j / hubs) * 10 / lmpPerStep }
    .map { case (s, v) => s -> v.map(_._1) }

  def prices(s: Int): Vector[PriceTick] = market.prices.slice(s * k * hubs, (s + 1) * k * hubs)
  def trades(s: Int): Vector[Trade] = tradesBy.getOrElse(s, Vector.empty)
  def dayahead(s: Int): Vector[DaLmp] = daBy.getOrElse(s, Vector.empty)
  def realtime(s: Int): Vector[RtLmp] =
    lmp.rt.slice(s * lmpPerStep * hubs, (s + 1) * lmpPerStep * hubs)

  /** Tape events of step `s` on the four topics. */
  def events(s: Int): Long =
    (prices(s).size + trades(s).size + dayahead(s).size + realtime(s).size).toLong

  /** Wire frames per topic for step `s`. `market` carries the step's price
    * and trade frames in producer order (a tick's four prices, then its
    * trade): it is the one feed the two fold jobs read, so a single rename
    * makes a step's prices and trades visible to them together.
    */
  def frames(s: Int): Seq[(String, Seq[String])] = {
    val ps = prices(s); val ts = trades(s)
    val byTick = ts.map(t => (t.trade_id - 1 - s.toLong * k).toInt -> t).toMap
    val marketFrames = (0 until k).flatMap { i =>
      ps.slice(i * hubs, (i + 1) * hubs).map(MarketGen.priceJson) ++
        byTick.get(i).map(MarketGen.tradeJson)
    }
    Seq(
      "prices" -> ps.map(MarketGen.priceJson),
      "trades" -> ts.map(MarketGen.tradeJson),
      "dayahead_prices" -> dayahead(s).map(MarketGen.daJson),
      "realtime_prices" -> realtime(s).map(MarketGen.rtJson),
      "market" -> marketFrames)
  }

  /** Step `s` as the tagged events the PnL fold sees, in `(ts, seq)` order
    * (prices seq 0, trades seq 1, as the fold jobs' union tags them).
    */
  def marketEvents(s: Int): Vector[MarketEvent] = {
    val ps = prices(s).map(p => MarketEvent(0L, Tape.ts(p.ts), p.hub, "price", "", "", 0, p.price_mwh))
    val ts = trades(s).map(t =>
      MarketEvent(1L, Tape.ts(t.ts), t.hub, "trade", t.account, t.side, t.mw, t.price_mwh))
    (ps ++ ts).sortBy(e => (e.ts.getTime, e.seq))
  }
}

object Tape {
  val Topics: Seq[String] = Seq("prices", "trades", "dayahead_prices", "realtime_prices", "market")

  /** Wire timestamp (naive or `+00:00`) → the UTC instant ingest parses. */
  def ts(raw: String): Timestamp =
    if (raw.endsWith("+00:00")) Timestamp.from(OffsetDateTime.parse(raw).toInstant)
    else Timestamp.from(LocalDateTime.parse(raw).toInstant(ZoneOffset.UTC))
}

/** The benchmark's publisher: `TapePublisher.publishFile` into a staging
  * root outside the watched directories, then one atomic rename per file
  * into `<root>/topics/<topic>/`. A file source listing never sees a
  * half-written step file.
  */
final class Publisher(root: String) {
  val topicsDir: String = s"$root/topics"
  private val stageDir = s"$root/stage"
  Tape.Topics.foreach(t => Files.createDirectories(Paths.get(topicsDir, t)))

  def topic(t: String): String = s"$topicsDir/$t"

  /** Stage, then rename in; returns `clock()` read just before the first
    * file appeared in a watched directory.
    */
  def publish(name: String, frames: Seq[(String, Seq[String])], only: Set[String],
      clock: () => Double): Double = {
    val live = frames.filter { case (t, fs) => fs.nonEmpty && only.contains(t) }
    live.foreach { case (t, fs) => TapePublisher.publishFile(stageDir, t, fs, name) }
    val appeared = clock()
    live.foreach { case (t, _) =>
      Files.move(Paths.get(stageDir, t, s"$name.json"), Paths.get(topicsDir, t, s"$name.json"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    appeared
  }
}

/** What every dashboard panel must show after the steps applied so far,
  * computed in the driver from the tape alone: the PnL rows by the same
  * `PnlKernel.step` fold, the forecasts by the SMA5/SMA20 definition.
  */
final class Expect {
  private val hubStates = mutable.Map.empty[String, HubState]
  private val smaWindows = mutable.Map.empty[String, Vector[Double]]
  val latestPnl: mutable.Map[(String, String), PnlRow] = mutable.Map.empty
  /** hub → (ts, price, sma5, sma20) of the hub's newest tick. */
  val latestForecast: mutable.Map[String, (Timestamp, Double, Double, Double)] = mutable.Map.empty
  var lastPrices: Vector[PriceTick] = Vector.empty
  var lastTrades: Vector[Trade] = Vector.empty
  var lastDa: Vector[DaLmp] = Vector.empty
  var lastRt: Vector[RtLmp] = Vector.empty
  var nPrices, nTrades, nDa, nRt, nPnl = 0L
  /** Steps applied so far: the published prefix of the tape. */
  var appliedSteps = 0

  def apply(tape: StepTape, s: Int): Unit = {
    appliedSteps += 1
    lastPrices = (lastPrices ++ tape.prices(s)).takeRight(8)
    lastTrades = (lastTrades ++ tape.trades(s)).takeRight(10)
    lastDa = (lastDa ++ tape.dayahead(s)).takeRight(8)
    lastRt = (lastRt ++ tape.realtime(s)).takeRight(8)
    nPrices += tape.prices(s).size; nTrades += tape.trades(s).size
    nDa += tape.dayahead(s).size; nRt += tape.realtime(s).size
    tape.marketEvents(s).foreach { e =>
      val (st, rows) = PnlKernel.step(hubStates.getOrElse(e.hub, HubState.empty), e)
      hubStates(e.hub) = st
      rows.foreach(r => latestPnl((r.account, r.hub)) = r)
      nPnl += rows.size
      if (e.kind == "price") {
        val w = (smaWindows.getOrElse(e.hub, Vector.empty) :+ e.price_mwh).takeRight(20)
        smaWindows(e.hub) = w
        val last5 = w.takeRight(5)
        latestForecast(e.hub) = (e.ts, e.price_mwh, last5.sum / last5.size, w.sum / w.size)
      }
    }
  }

  def latestExposure: Map[(String, String), ExposureRow] =
    latestPnl.map { case (k, r) => k -> PnlKernel.exposure(r) }.toMap

  /** Newest price per hub. */
  def latestPricePerHub: Map[String, Double] =
    lastPrices.groupBy(_.hub).map { case (h, ps) => h -> ps.last.price_mwh }
}
