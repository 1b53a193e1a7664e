package graft.pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.GraftExtensions
import graft.operators.{LatestPerGroup, Pnl, PnlRow, Sma}
import graft.sources.TableLog

/** Closed-loop benchmark of the paper's pipeline: a publisher drops seeded
  * tape steps into topic directories, the program's streaming jobs commit
  * them, a reader refreshes the dashboard and every answer is checked
  * against the tape. One JVM per run, fresh directories under `--root`.
  *
  *   --workload live|log_live --seed N --seconds S --trace 0|1
  *   --root DIR --cpus N --t0-ms EPOCH_MS [--corrupt 1] [--out DIR]
  *
  * Prints one JSON line: end-to-end metrics (`--trace 0`) or per-layer
  * metrics (`--trace 1`, which also writes the spans to `--out`).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: String, cpus: Int, t0Ms: Long, corrupt: Boolean, out: String)

  /** Market steps per benchmark step. */
  val K = 25

  /** Per-workload shape. `warmup`: untimed steps before the timed phase,
    * enough that the JIT has settled; `traceSteps`: the traced run's fixed
    * amount of work, so its counts repeat exactly.
    */
  final case class Shape(warmup: Int, traceSteps: Int)
  val Shapes: Map[String, Shape] = Map(
    "live" -> Shape(warmup = 6, traceSteps = 10),
    "log_live" -> Shape(warmup = 8, traceSteps = 30))

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("root"), kv("cpus").toInt, kv("t0-ms").toLong, kv.get("corrupt").contains("1"),
      kv.getOrElse("out", kv("root")))
    val shape = Shapes.getOrElse(o.workload, sys.error(s"unknown workload ${o.workload}"))
    Files.createDirectories(Paths.get(o.root))
    val spark = session(o.cpus, o.root)
    val bench = new Bench(spark, o, shape)
    val line = try bench.run() finally spark.stop()
    println(line)
  }

  /** The session `graft.Bench.main` builds, at `cpus` cores. */
  def session(cpus: Int, root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val i = q * (s.size - 1)
      val lo = s(i.toInt); val hi = s(math.min(i.toInt + 1, s.size - 1))
      lo + (hi - lo) * (i - i.toInt)
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  def countFiles(dir: String, pred: Path => Boolean): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else {
      val w = Files.walk(Paths.get(dir))
      try w.iterator().asScala.count(p => Files.isRegularFile(p) && pred(p)).toLong finally w.close()
    }

  def isParquet(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")
}

/** One run of one workload. */
final class Bench(spark: SparkSession, o: Main.Opts, shape: Main.Shape) {
  import Main._
  import spark.implicits._

  private val tracer = new Tracer(enabled = false)
  private val listeners = if (o.trace) Some(new Listeners(spark)) else None
  private val tape = new StepTape(o.seed, K, 1000)
  private val exp = new Expect

  // end-to-end samples (timed phase only)
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private val refreshMs = mutable.ArrayBuffer.empty[Double]
  private var timedEvents = 0L
  private var attempted = 0L
  private var failed = 0L
  private var timed = false

  // traced-run bookkeeping: step windows (epoch ms) and per-step counters
  final case class Window(step: Int, pub: Double, committed: Double)
  private val windows = mutable.ArrayBuffer.empty[Window]
  private val panelMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val scanned = mutable.ArrayBuffer.empty[(Long, Long)]
  private var refreshScan = (0L, 0L)
  private val gcMs = mutable.ArrayBuffer.empty[Double]
  private val tallies = mutable.ArrayBuffer.empty[(Long, Long)]
  private var queryRoles = Map.empty[java.util.UUID, String]
  private var endCounts = Map.empty[String, Double]
  private var speedup = 0.0

  private def op(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[pipebench] FAILED: $what") }
    ok
  }

  private def gcTotal: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def run(): String = {
    listeners.foreach(_.register())
    val timedStart = o.workload match {
      case "live" => runLive()
      case "log_live" => runLog()
    }
    listeners.foreach(_.unregister())
    if (o.trace && o.workload == "live" && failed == 0) speedup = singleCoreSpeedup()
    val setupS = (timedStart - o.t0Ms) / 1000.0
    if (o.trace) layerResult() else endToEndResult(setupS)
  }

  /** Run steps until the timed phase is over: `--seconds` of wall time,
    * or the traced run's fixed step count.
    */
  private def timedLoop(first: Int)(step: Int => Boolean): Unit = {
    val t0 = System.nanoTime()
    var s = first
    var alive = true
    def more = if (o.trace) s < first + shape.traceSteps
      else (System.nanoTime() - t0) / 1e9 < o.seconds
    while (alive && more && s < tape.steps) { alive = step(s); s += 1 }
  }

  // ---------------------------------------------------------------------
  // live: one step at a time through all six jobs, then one refresh
  // ---------------------------------------------------------------------

  private def runLive(): Long = {
    val root = s"${o.root}/live"
    val pub = new Publisher(root)
    val p = new ParquetPipeline(spark, pub, root)
    var alive = true
    (0 until shape.warmup).foreach(s => if (alive) alive = liveStep(p, pub, s))
    queryRoles = p.queries.map { case (r, q) => q.id -> r }.toMap
    val timedStart = System.currentTimeMillis()
    timed = true
    tracer.enabled = o.trace
    if (alive) timedLoop(shape.warmup) { s =>
      val ok = liveStep(p, pub, s)
      if (o.corrupt && s == shape.warmup) corruptPnl(p.warehouse)
      ok
    }
    timed = false
    tracer.enabled = false
    p.stop()
    finalParquetCheck(p)
    endCounts = parquetFileCounts(p.warehouse)
    timedStart
  }

  /** Publish step `s`, wait for every job to commit it, refresh. Returns
    * false when the pipeline is broken (a job failed).
    */
  private def liveStep(p: Pipeline, pub: Publisher, s: Int): Boolean = {
    val gc0 = gcTotal
    val t0 = tallyNow
    val (committed, appeared, doneAt) = tracer.span("step", s) {
      val appeared = tracer.span("tapepublisher.publish", s) {
        pub.publish(f"$s%06d", tape.frames(s), p.topics, () => tracer.nowMs)
      }
      val ok = tracer.span("commit", s) {
        try { p.awaitCommit(); true }
        catch { case e: Exception => System.err.println(s"[pipebench] commit: $e"); false }
      }
      val doneAt = tracer.nowMs
      exp(tape, s)
      (ok, appeared, doneAt)
    }
    op(committed && stepInvariant(p, s), s"step $s")
    if (timed && committed) {
      commitMs += doneAt - appeared
      timedEvents += eventsOf(p, s)
    }
    val r0 = System.nanoTime()
    if (committed) tracer.span("refresh", s) { refresh(p, s) }
    System.err.println(f"[pipebench] step $s%d commit ${doneAt - appeared}%.1f ms refresh ${(System.nanoTime() - r0) / 1e6}%.1f ms")
    if (timed) {
      windows += Window(s, appeared, doneAt)
      gcMs += (gcTotal - gc0).toDouble
      tallies += tallyDelta(t0)
    }
    committed
  }

  private def eventsOf(p: Pipeline, s: Int): Long = p match {
    case _: LogPipeline => (tape.prices(s).size + tape.trades(s).size).toLong
    case _ => tape.events(s)
  }

  private def stepInvariant(p: Pipeline, s: Int): Boolean = p match {
    case l: LogPipeline =>
      val head = TableLog.headVersion(spark, l.logs("prices")).getOrElse(-1L)
      versionCounts(head) = exp.nPrices
      val ok = l.tailed("prices").get == exp.nPrices && l.tailed("trades").get == exp.nTrades &&
        (lastHead < 0 || head == lastHead + 1)
      lastHead = head
      ok
    case _ => true
  }
  private var lastHead = -1L
  private val versionCounts = mutable.Map.empty[Long, Long]

  // ---------------------------------------------------------------------
  // the dashboard refresh and its per-panel checks
  // ---------------------------------------------------------------------

  /** Run one panel query, time it, check its rows. */
  private def panel(name: String, s: Int)(df: => DataFrame)(check: Array[Row] => Boolean): Boolean = {
    val t0 = tracer.nowMs
    val (frame, rows) = tracer.span(name, s) { val f = df; (f, f.collect()) }
    if (timed && o.trace) {
      panelMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += tracer.nowMs - t0
      val (f, r) = scanStats(frame)
      refreshScan = (refreshScan._1 + f, refreshScan._2 + r)
    }
    val ok = check(rows)
    if (!ok) System.err.println(s"[pipebench] panel $name mismatch at step $s: ${rows.take(12).mkString(" ")}")
    ok
  }

  private def scanStats(df: DataFrame): (Long, Long) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case f: FileSourceScanExec =>
      (f.metrics.get("numFiles").map(_.value).getOrElse(0L),
        f.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private def refresh(p: Pipeline, s: Int): Unit = {
    val t0 = System.nanoTime()
    refreshScan = (0L, 0L)
    val ok = p match {
      case pp: ParquetPipeline => parquetPanels(pp, s)
      case lp: LogPipeline => logPanels(lp, s)
    }
    if (timed) {
      refreshMs += (System.nanoTime() - t0) / 1e6
      if (o.trace) scanned += refreshScan
    }
    op(ok, s"refresh after step $s")
  }

  private def ts(r: Row, f: String): Long = r.getAs[java.sql.Timestamp](f).getTime

  private def parquetPanels(p: ParquetPipeline, s: Int): Boolean = {
    def latestN(t: String, n: Int) = p.table(t).orderBy(col("ts").desc).limit(n)
    val results = Seq(
      panel("operators.r1_prices", s)(latestN("prices", 8)) { rows =>
        rows.map(r => (r.getAs[String]("ts_raw"), r.getAs[String]("hub"), r.getAs[Double]("price_mwh"))).toSet ==
          exp.lastPrices.map(x => (x.ts, x.hub, x.price_mwh)).toSet && rows.length == 8
      },
      panel("operators.r2_trades", s)(latestN("trades", 10)) { rows =>
        rows.map(r => (r.getAs[Long]("trade_id"), r.getAs[String]("account"), r.getAs[String]("side"),
          r.getAs[Int]("mw"), r.getAs[Double]("price_mwh"))).toSeq.sortBy(_._1) ==
          exp.lastTrades.map(t => (t.trade_id, t.account, t.side, t.mw, t.price_mwh))
      },
      panel("operators.r3_positions", s)(LatestPerGroup.latest(p.table("positions_pnl"),
          Seq(col("account"), col("hub")), Seq(col("ts"), col("seq")))) { rows =>
        rows.map(r => (r.getAs[String]("account"), r.getAs[String]("hub")) -> PnlRow(r.getAs[Long]("seq"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("account"), r.getAs[String]("hub"),
          r.getAs[Int]("position_mw"), r.getAs[Double]("avg_price_mwh"), r.getAs[Double]("last_price_mwh"),
          r.getAs[Double]("realized_pnl"), r.getAs[Double]("unrealized_pnl"), r.getAs[Double]("total_pnl")))
          .toMap == exp.latestPnl.toMap
      },
      panel("operators.r4_exposure", s)(LatestPerGroup.latest(p.table("price_exposure"),
          Seq(col("account"), col("hub")), Seq(col("ts"), col("seq")))) { rows =>
        rows.map(r => (r.getAs[String]("account"), r.getAs[String]("hub")) ->
          (ts(r, "ts"), r.getAs[Int]("position_mw"), r.getAs[Double]("last_price_mwh"),
            r.getAs[Double]("pnl01"), r.getAs[Double]("notional_usd"))).toMap ==
          exp.latestExposure.map { case (k, e) =>
            k -> (e.ts.getTime, e.position_mw, e.last_price_mwh, e.pnl01, e.notional_usd) }
      },
      panel("operators.r5_dayahead", s)(latestN("dayahead_prices", 8)) { rows =>
        rows.map(r => (r.getAs[String]("ts_raw"), r.getAs[String]("hub"), r.getAs[Double]("lmp_da"))).toSet ==
          exp.lastDa.map(x => (x.ts, x.hub, x.lmp_da)).toSet && rows.length == exp.lastDa.size
      },
      panel("operators.r6_realtime", s)(latestN("realtime_prices", 8)) { rows =>
        rows.map(r => (r.getAs[String]("ts_raw"), r.getAs[String]("hub"), r.getAs[Double]("lmp_rt"))).toSet ==
          exp.lastRt.map(x => (x.ts, x.hub, x.lmp_rt)).toSet && rows.length == exp.lastRt.size
      },
      panel("operators.forecast", s)(LatestPerGroup.latest(p.table("forecasts"),
          Seq(col("hub")), Seq(col("ts"), col("seq")))) { rows =>
        rows.length == exp.latestForecast.size && rows.forall { r =>
          exp.latestForecast.get(r.getAs[String]("hub")).exists { case (t, px, s5, s20) =>
            ts(r, "ts") == t.getTime && r.getAs[Double]("price_mwh") == px &&
              math.abs(r.getAs[Double]("sma5") - s5) < 1e-9 && math.abs(r.getAs[Double]("sma20") - s20) < 1e-9 &&
              r.getAs[Double]("forecast_next") == r.getAs[Double]("sma5")
          }
        }
      })
    results.forall(identity)
  }

  private val AsOfLag = 3

  private def logPanels(p: LogPipeline, s: Int): Boolean = {
    val prices = p.logs("prices")
    val head = lastHead
    val asOf = head - AsOfLag
    val results = Seq(
      panel("tablelog.read", s)(LatestPerGroup.latest(TableLog.read(spark, prices),
          Seq(col("hub")), Seq(col("ts_utc")))) { rows =>
        rows.map(r => r.getAs[String]("hub") -> r.getAs[Double]("price_mwh")).toMap == exp.latestPricePerHub
      },
      if (!versionCounts.contains(asOf)) true
      else panel("tablelog.asof", s)(TableLog.read(spark, prices, Some(asOf)).agg(count(lit(1)))) { rows =>
        rows.head.getLong(0) == versionCounts(asOf)
      },
      panel("tablelog.history", s)(TableLog.history(spark, prices)) { rows =>
        rows.length == versionCounts.size && rows.map(_.getAs[Long]("version")).max == head
      })
    results.forall(identity)
  }

  // ---------------------------------------------------------------------
  // log_live
  // ---------------------------------------------------------------------

  private def runLog(): Long = {
    val root = s"${o.root}/log_live"
    val pub = new Publisher(root)
    val p = new LogPipeline(spark, pub, root)
    var alive = true
    (0 until shape.warmup).foreach(s => if (alive) alive = liveStep(p, pub, s))
    queryRoles = p.queries.map { case (r, q) => q.id -> r }.toMap
    val timedStart = System.currentTimeMillis()
    timed = true
    tracer.enabled = o.trace
    if (alive) timedLoop(shape.warmup) { s =>
      if (o.corrupt && s == shape.warmup + 1)
        TableLog.append(Seq(("2030-01-01T00:00:00", "PJM-WEST", 1.0)).toDF("ts", "hub", "price_mwh")
          .withColumn("ts_utc", to_timestamp(col("ts"))), p.logs("prices"))
      liveStep(p, pub, s)
    }
    timed = false
    tracer.enabled = false
    p.stop()
    val committed = p.logs.map { case (t, path) => t -> TableLog.read(spark, path).count() }
    op(committed("prices") == exp.nPrices && committed("trades") == exp.nTrades &&
      p.tailed("prices").get == exp.nPrices && p.tailed("trades").get == exp.nTrades,
      s"final log check: committed $committed tailed ${p.tailed} published ${exp.nPrices}/${exp.nTrades}")
    endCounts = Map(
      "tablelog.versions" -> p.logs.values.map(r => TableLog.headVersion(spark, r).getOrElse(0L)).sum.toDouble,
      "tablelog.checkpoints" -> p.logs.values.map(r =>
        countFiles(s"$r/_graft_log", _.getFileName.toString.endsWith(".checkpoint"))).sum.toDouble,
      "tablelog.data_files" -> p.logs.values.map(r =>
        countFiles(r, f => isParquet(f) && !f.toString.contains("_graft_log"))).sum.toDouble)
    timedStart
  }

  /** Backlog drain time at `local[1]` over the same drain at
    * `local[cpus]`: the single-thread baseline of `events_per_s`. The
    * backlog (4 files of 1000 market steps, about 21k events) waits in the
    * topics before the six jobs start, as when a restarted deployment
    * replays from `earliest`; it is drained once per session after the
    * traced steps have warmed the JVM.
    */
  private def singleCoreSpeedup(): Double = {
    val backlog = new StepTape(o.seed, 1000, 4)
    def drainSecs(session: SparkSession, name: String): Double = {
      val dir = s"${o.root}/speedup-$name"
      val pub = new Publisher(dir)
      (0 until backlog.steps).foreach(s => pub.publish(f"$s%06d", backlog.frames(s), Tape.Topics.toSet, () => 0.0))
      val t0 = System.nanoTime()
      val p = new ParquetPipeline(session, pub, dir)
      p.awaitCommit()
      val secs = (System.nanoTime() - t0) / 1e9
      p.stop()
      op(p.table("prices").count() == (0 until backlog.steps).map(backlog.prices(_).size).sum,
        s"speedup drain at $name")
      deleteTree(Paths.get(dir))
      secs
    }
    val n = drainSecs(spark, s"local${o.cpus}")
    spark.stop()
    val one = Main.session(1, o.root)
    try drainSecs(one, "local1") / n finally one.stop()
  }

  // ---------------------------------------------------------------------
  // whole-table checks
  // ---------------------------------------------------------------------

  private def hashOf(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
      lit(1000000007L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Row counts equal the tape's; `positions_pnl` equals `Pnl.replay` over
    * the published events bit for bit; `forecasts` equal
    * `Sma.withForecast` (to 1e-9, as the streaming spec pins them).
    */
  private def finalParquetCheck(p: ParquetPipeline): Unit = {
    val events = (0 until exp.appliedSteps).flatMap(tape.marketEvents).toDS()
    val counts = Seq("prices" -> exp.nPrices, "trades" -> exp.nTrades, "dayahead_prices" -> exp.nDa,
      "realtime_prices" -> exp.nRt, "forecasts" -> exp.nPrices, "positions_pnl" -> exp.nPnl,
      "price_exposure" -> exp.nPnl)
    val got = counts.map { case (t, _) => t -> p.table(t).count() }.toMap
    val countsOk = counts.forall { case (t, n) => got(t) == n }
    val pnlOk = hashOf(p.table("positions_pnl")) == hashOf(Pnl.replay(events).toDF())
    val want = Sma.withForecast(events.filter(_.kind == "price").toDF(), col("hub"), col("price_mwh"),
      Seq(col("ts"), col("seq")))
    val f = p.table("forecasts")
    val bad = f.join(want.select(col("ts"), col("hub"), col("sma5").as("w5"), col("sma20").as("w20"),
        col("price_mwh").as("wpx")), Seq("ts", "hub"))
      .filter(abs(col("sma5") - col("w5")) >= 1e-9 || abs(col("sma20") - col("w20")) >= 1e-9 ||
        col("price_mwh") =!= col("wpx") || col("forecast_next") =!= col("sma5"))
      .count()
    val joined = f.join(want.select("ts", "hub"), Seq("ts", "hub")).count()
    op(countsOk && pnlOk && bad == 0 && joined == exp.nPrices,
      s"table check: counts $got want $counts pnl $pnlOk forecast mismatches $bad joined $joined")
  }

  private def corruptPnl(warehouse: String): Unit = {
    val r = exp.latestPnl.values.head
    // dated after the tape's end, so every later refresh shows it
    Seq(r.copy(ts = java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), total_pnl = r.total_pnl + 1.0)).toDS()
      .write.mode("append").parquet(s"$warehouse/positions_pnl")
  }

  private def parquetFileCounts(warehouse: String): Map[String, Double] = {
    def files(ts: Seq[String]) = ts.map(t => countFiles(s"$warehouse/$t", isParquet)).sum.toDouble
    Map("ingestjobs.files_out" -> files(Seq("prices", "trades", "dayahead_prices", "realtime_prices")),
      "streamingops.files_out" -> files(Seq("forecasts", "positions_pnl", "price_exposure")))
  }

  private def tallyNow: (Long, Long) =
    (TableLog.manifestReadTally.get, TableLog.manifestCacheHitTally.get)
  private def tallyDelta(t0: (Long, Long)): (Long, Long) = {
    val t = tallyNow; (t._1 - t0._1, t._2 - t0._2)
  }

  // ---------------------------------------------------------------------
  // results
  // ---------------------------------------------------------------------

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.trim.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  private def resultLine(metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$m}}"""
  }

  private def endToEndResult(setupS: Double): String = resultLine(Seq(
    ("commit_ms_p50", pct(commitMs.toSeq, 0.5), "ms"),
    ("commit_ms_p90", pct(commitMs.toSeq, 0.9), "ms"),
    ("refresh_ms_p50", pct(refreshMs.toSeq, 0.5), "ms"),
    ("refresh_ms_p90", pct(refreshMs.toSeq, 0.9), "ms"),
    ("events_per_s", timedEvents / (commitMs.sum / 1000.0), "1/s"),
    ("ok_share", (attempted - failed).toDouble / math.max(1L, attempted), "share"),
    ("setup_s", setupS, "s"),
    ("peak_rss_mb", peakRssMb, "MB")))

  private def layerResult(): String = {
    val l = listeners.get
    val p50 = (xs: Iterable[Double]) => pct(xs.toSeq, 0.5)
    // micro-batches per (role, step), by the step window their trigger started in
    val byStep = mutable.Map.empty[(String, Int), mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]]
    l.batches(queryRoles.keySet).foreach { b =>
      val t = Listeners.startMs(b).toDouble
      windows.find(w => t >= w.pub - 50 && t <= w.committed).foreach { w =>
        byStep.getOrElseUpdate((queryRoles(b.id), w.step), mutable.ArrayBuffer.empty) += b
        val commit = tracer.all.find(sp => sp.name == "commit" && sp.step == w.step).map(_.id).getOrElse(-1)
        tracer.record(s"${queryRoles(b.id)}.batch", commit, w.step, t,
          t + Listeners.phase(b, "triggerExecution"))
      }
    }
    def perStep(roles: Set[String])(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      p50(windows.map(w => roles.toSeq.flatMap(r => byStep.getOrElse((r, w.step), Nil)).map(f).sum))
    def pickup(b: org.apache.spark.sql.streaming.StreamingQueryProgress): Double = {
      val t = Listeners.startMs(b).toDouble
      windows.find(w => t >= w.pub - 50 && t <= w.committed).map(w => math.max(0.0, t - w.pub)).getOrElse(0.0)
    }
    def ph(keys: String*)(b: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      keys.map(k => Listeners.phase(b, k)).sum.toDouble
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long)(
        b: org.apache.spark.sql.streaming.StreamingQueryProgress): Double = b.stateOperators.map(f).sum.toDouble
    def lastState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      l.batches(queryRoles.filter(_._2 == "fold").keySet).groupBy(_.id)
        .map { case (_, bs) => bs.maxBy(_.batchId).stateOperators.map(f).sum }.sum.toDouble
    def dropped(b: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      b.observedMetrics.asScala.collect { case (k, r) if k.startsWith("graft_ingest_") =>
        r.getAs[Long]("frames_dropped") }.sum.toDouble
    val ingest = Set("ingest", "append")
    val fold = Set("fold")

    val jobs = l.jobStarts.asScala.toSeq.map(_.toDouble)
    val tasks = l.tasks.asScala.toSeq
    def inCommit(w: Window, t: Double) = t >= w.pub - 50 && t <= w.committed
    val busy = windows.map(w => tasks.filter(t => inCommit(w, t.finishMs.toDouble)).map(_.runMs).sum).sum /
      math.max(1e-9, windows.map(w => w.committed - w.pub).sum * o.cpus)
    val self = tracer.selfTimes
    def panel(n: String) = p50(panelMs.getOrElse(n, Nil))

    val metrics = Seq(
      ("tapepublisher.publish_ms", p50(tracer.all.filter(_.name == "tapepublisher.publish").map(s => s.end - s.start)), "ms"),
      ("ingestjobs.pickup_ms", perStep(ingest)(pickup), "ms"),
      ("ingestjobs.list_ms", perStep(ingest)(ph("latestOffset", "getBatch")), "ms"),
      ("ingestjobs.plan_ms", perStep(ingest)(ph("queryPlanning")), "ms"),
      ("ingestjobs.add_batch_ms", perStep(Set("ingest"))(ph("addBatch")), "ms"),
      ("ingestjobs.wal_ms", perStep(ingest)(ph("walCommit", "commitOffsets")), "ms"),
      ("ingestjobs.rows_in", perStep(ingest)(_.numInputRows.toDouble), "count"),
      ("ingestjobs.batches", perStep(ingest)(_ => 1.0), "count"),
      ("ingestjobs.files_out", endCounts.getOrElse("ingestjobs.files_out", 0.0), "count"),
      ("ingestjobs.frames_dropped", perStep(ingest)(dropped), "count"),
      ("streamingops.pickup_ms", perStep(fold)(pickup), "ms"),
      ("streamingops.plan_ms", perStep(fold)(ph("queryPlanning")), "ms"),
      ("streamingops.wal_ms", perStep(fold)(ph("walCommit", "commitOffsets")), "ms"),
      ("streamingops.add_batch_ms", perStep(fold)(ph("addBatch")), "ms"),
      ("streamingops.state_commit_ms", perStep(fold)(state(_.commitTimeMs)), "ms"),
      ("streamingops.state_update_ms", perStep(fold)(state(_.allUpdatesTimeMs)), "ms"),
      ("streamingops.state_rows", lastState(_.numRowsTotal), "count"),
      ("streamingops.state_bytes", lastState(_.memoryUsedBytes), "bytes"),
      ("streamingops.state_stores", lastState(_.numStateStoreInstances), "count"),
      ("streamingops.files_out", endCounts.getOrElse("streamingops.files_out", 0.0), "count"),
      ("operators.r1_prices_ms", panel("operators.r1_prices"), "ms"),
      ("operators.r2_trades_ms", panel("operators.r2_trades"), "ms"),
      ("operators.r3_positions_ms", panel("operators.r3_positions"), "ms"),
      ("operators.r4_exposure_ms", panel("operators.r4_exposure"), "ms"),
      ("operators.r5_dayahead_ms", panel("operators.r5_dayahead"), "ms"),
      ("operators.r6_realtime_ms", panel("operators.r6_realtime"), "ms"),
      ("operators.forecast_ms", panel("operators.forecast"), "ms"),
      ("operators.files_scanned", p50(scanned.map(_._1.toDouble)), "count"),
      ("operators.rows_scanned", p50(scanned.map(_._2.toDouble)), "count"),
      ("tablelog.append_ms", perStep(Set("append"))(ph("addBatch")), "ms"),
      ("tablelog.tail_ms", perStep(Set("tail"))(ph("triggerExecution")), "ms"),
      ("tablelog.read_ms", panel("tablelog.read"), "ms"),
      ("tablelog.asof_ms", panel("tablelog.asof"), "ms"),
      ("tablelog.history_ms", panel("tablelog.history"), "ms"),
      ("tablelog.manifest_parses", p50(tallies.map(_._1.toDouble)), "count"),
      ("tablelog.manifest_cache_hits", p50(tallies.map(_._2.toDouble)), "count"),
      ("tablelog.versions", endCounts.getOrElse("tablelog.versions", 0.0), "count"),
      ("tablelog.checkpoints", endCounts.getOrElse("tablelog.checkpoints", 0.0), "count"),
      ("tablelog.data_files", endCounts.getOrElse("tablelog.data_files", 0.0), "count"),
      ("spark.jobs_per_step", p50(windows.map(w => jobs.count(t => inCommit(w, t)).toDouble)), "count"),
      ("spark.tasks_per_step", p50(windows.map(w => tasks.count(t => inCommit(w, t.finishMs.toDouble)).toDouble)), "count"),
      ("spark.busy_share", busy, "share"),
      ("spark.gc_ms", p50(gcMs), "ms"),
      ("spark.shuffle_bytes", p50(windows.map(w =>
        tasks.filter(t => inCommit(w, t.finishMs.toDouble)).map(_.shuffleBytes).sum.toDouble)), "bytes"),
      ("spark.speedup_1_to_n", speedup, "ratio"),
      ("trace.commit_ms_p50", pct(commitMs.toSeq, 0.5), "ms"),
      ("trace.refresh_ms_p50", pct(refreshMs.toSeq, 0.5), "ms"),
      ("trace.steps", windows.size.toDouble, "count"))
    writeTrace(metrics, self)
    resultLine(metrics)
  }

  private def writeTrace(metrics: Seq[(String, Double, String)], self: Map[String, Double]): Unit = {
    Files.createDirectories(Paths.get(o.out))
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(",\n")
    val st = self.toSeq.sortBy(-_._2).map { case (n, v) => s""""$n": $v""" }.mkString(",\n")
    val body = s"""{"workload": "${o.workload}", "seed": ${o.seed}, "cpus": ${o.cpus},\n"metrics": {$m},\n""" +
      s""""self_ms": {$st},\n"spans": ${tracer.json}}\n"""
    Files.write(Paths.get(o.out, s"trace-${o.workload}-seed${o.seed}.json"), body.getBytes("UTF-8"))
    ()
  }
}
