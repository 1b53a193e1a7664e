package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnomalyRow, MarketEvent, Pnl, Sma}
import graft.streaming.{Ingest, KeyedUpdate, MemoryReplay, StreamingOps, TimedEvent}

/** Streaming ≡ batch parity (SURVEY.md §5.4): MemoryStream chunks through
  * the flatMapGroupsWithState operators must reproduce the batch fold /
  * window exactly, with state carrying across micro-batches.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val marketEvents: Seq[MarketEvent] = {
    import spark.implicits._
    Pnl.eventsAsMarket(Tables.events(spark, "/root/testdata/sf0.001"))
      .collect().toSeq.sortBy(e => (e.ts.getTime, e.seq))
  }

  test("latestPerGroupStream snapshot equals the batch DISTINCT ON over all batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[MarketEvent]
    val latest = StreamingOps.latestPerGroupStream[String, MarketEvent](
      input.toDS(), _.hub, e => (e.ts.getTime, e.seq))
    // Update mode emits each touched hub's new latest row; folding the
    // batches into a hub -> seq map is the current snapshot
    val snapshot = scala.collection.concurrent.TrieMap.empty[String, Long]
    val q = latest.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[MarketEvent], _: Long) =>
        batch.collect().foreach(e => snapshot.put(e.hub, e.seq)); ()
      }
      .start()
    try {
      val n = marketEvents.size
      marketEvents.grouped(math.max(1, n / 3 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // exactly the latest event per hub, every batch folded in —
      // identical to the batch window over the full tape
      val want = graft.operators.LatestPerGroup.latest(
          marketEvents.toDF(), Seq(col("hub")), Seq(col("ts"), col("seq")))
        .select(col("seq"), col("hub")).collect()
        .map(r => r.getAs[String]("hub") -> r.getAs[Long]("seq")).toMap
      assert(snapshot.nonEmpty && snapshot.toMap == want)
    } finally q.stop()
  }

  test("streaming near-dup candidates equal the batch band-join candidate set") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.nearDupCandidatesStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = stream.toDF().toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      docs.grouped(math.max(1, docs.size / 2 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val got = spark.table("neardup_out").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      // batch counterpart: est threshold 0 keeps every band-sharing pair
      val want = graft.operators.Dedup.minhashLsh(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"), threshold = 0.0)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(want.nonEmpty, "fixture must contain band-sharing candidates")
      assert(got == want, s"stream=${got.size} batch=${want.size}")
    } finally q.stop()
  }

  private lazy val prices = marketEvents.filter(_.kind == "price")

  /** Restart tapes cut from the market tape: a tick stream per event kind,
    * and SCD2 updates over seven keys whose attribute is the event kind.
    */
  private lazy val ticks =
    marketEvents.map(e => TimedEvent(e.seq, e.ts, e.kind, e.price_mwh))
  private lazy val updates =
    marketEvents.map(e => KeyedUpdate(e.seq % 7, e.kind, e.ts, e.seq))

  /** Each keyed fold against its batch reference: (fold, N, the fold's
    * rows over n micro-batches, the reference's rows, row equality). ==
    * on doubles means the fold is BIT-identical across the state cuts; the
    * anomaly ring's 7 small chunks make windows straddle a cut.
    */
  private val parityFolds: Seq[(String, Int, Int => Seq[Any], () => Seq[Any],
      (Any, Any) => Boolean)] = {
    import spark.implicits._
    def replay[I: Encoder, O: Encoder](tape: Seq[I], n: Int)(
        f: Dataset[I] => Dataset[O]): Seq[O] =
      MemoryReplay.replay(spark, tape, n)(f).as[O].collect().toSeq
    val exact: (Any, Any) => Boolean = _ == _
    val within1e9: (Any, Any) => Boolean = {
      case ((gs, g5: Double, g20: Double), (ws, w5: Double, w20: Double)) =>
        gs == ws && math.abs(g5 - w5) < 1e-9 && math.abs(g20 - w20) < 1e-9
    }
    Seq(
      ("pnlStream", 3,
        n => replay(marketEvents, n)(StreamingOps.pnlStream).sortBy(r => (r.seq, r.account)),
        () => Pnl.replay(marketEvents.toDS()).collect().toSeq.sortBy(r => (r.seq, r.account)),
        exact),
      ("ewmaStream", 3,
        n => replay(prices, n)(StreamingOps.ewmaStream(_, alpha = 0.25)).sortBy(_.seq),
        () => Sma.ewma(prices.toDS(), alpha = 0.25).collect().toSeq.sortBy(_.seq),
        exact),
      ("anomalyStream", 7,
        n => replay(prices, n)(StreamingOps.anomalyStream(_)).sortBy(_.seq),
        () => Sma.rollingAnomalies(prices.toDS().toDF(), col("hub"), col("price_mwh"),
            Seq(col("ts"), col("seq")))
          .as[AnomalyRow].collect().toSeq.sortBy(_.seq),
        exact),
      ("forecastStream", 4,
        n => replay(prices, n)(StreamingOps.forecastStream)
          .map(r => (r.seq, r.sma5, r.sma20)).sortBy(_._1),
        () => Sma.withForecast(prices.toDS().toDF(), col("hub"), col("price_mwh"),
            Seq(col("ts"), col("seq")))
          .select(col("seq"), col("sma5"), col("sma20")).as[(Long, Double, Double)]
          .collect().toSeq.sortBy(_._1),
        within1e9))
  }

  for ((name, n, run, reference, same) <- parityFolds)
    test(s"$name equals its batch reference at 1 and $n micro-batches") {
      val want = reference()
      Seq(1, n).foreach { splits =>
        val got = run(splits)
        assert(want.nonEmpty && got.length == want.length, s"$splits batches")
        got.zip(want).foreach { case (g, w) =>
          assert(same(g, w), s"$splits batches: $g != $w")
        }
      }
    }

  /** Each micro-batch's rows of `f` over `tape` in four batches, by batch
    * id. `foreachBatch` collects them, since a restarted query's memory
    * sink would start empty. With `restart`, the query stops after every
    * batch and resumes on the same checkpoint.
    */
  private def batchRows[I: Encoder](tape: Seq[I], mode: OutputMode,
      restart: Boolean)(f: Dataset[I] => Dataset[_]): Seq[(Long, Seq[String])] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[I]
    val ckpt = TestSpark.tmpDir("fold_ckpt")
    val out = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
    def start() = f(input.toDS()).toDF().writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        out.put(id, b.collect().map(_.toString).sorted.toSeq); ()
      }
      .start()
    var q = start()
    try tape.grouped((tape.size + 3) / 4).foreach { c =>
      input.addData(c)
      q.processAllAvailable()
      if (restart) { q.stop(); q = start() }
    } finally q.stop()
    out.toSeq.sortBy(_._1)
  }

  /** The seven keyedFold operators, each as its per-batch rows over its
    * tape with or without a restart after every batch.
    */
  private val restartFolds: Seq[(String, Boolean => Seq[(Long, Seq[String])])] = {
    import spark.implicits._
    val append = OutputMode.Append()
    val update = OutputMode.Update()
    Seq(
      ("forecastStream", r => batchRows(prices, append, r)(StreamingOps.forecastStream)),
      ("ewmaStream", r => batchRows(prices, append, r)(StreamingOps.ewmaStream(_, 0.25))),
      ("anomalyStream", r => batchRows(prices, append, r)(StreamingOps.anomalyStream(_))),
      ("pnlStream", r => batchRows(marketEvents, append, r)(StreamingOps.pnlStream)),
      ("scd2Stream", r => batchRows(updates, update, r)(StreamingOps.scd2Stream)),
      ("tickGapStream",
        r => batchRows(ticks, update, r)(StreamingOps.tickGapStream(_, 1800000000L))),
      ("drawdownStream", r => batchRows(ticks, update, r)(StreamingOps.drawdownStream)))
  }

  for ((name, run) <- restartFolds)
    test(s"$name survives a kill-and-restart at every micro-batch boundary") {
      val want = run(false)
      assert(want.size == 4 && want.exists(_._2.nonEmpty))
      assert(run(true) == want)
    }

  test("streaming near-dup cold bucket: cap bounds emissions and state growth") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 60 identical docs through a cap of 10: each band bucket goes cold at
    // 10 members, so pair emissions stop at C(10,2) per bucket instead of
    // growing C(60,2)
    val docs = (0L until 60L).map(i => (i, "identical boilerplate body shared " +
      "verbatim by every single document in this synthetic hot cluster"))
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.nearDupCandidatesStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", maxBucket = 10)
    val q = stream.toDF().toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("coldbucket_out").outputMode("append").start()
    try {
      docs.grouped(20).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val pairs = spark.table("coldbucket_out").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      assert(pairs.nonEmpty, "pre-cap arrivals must still pair")
      assert(pairs.length <= 10 * 9 / 2,
        s"cold buckets must stop emitting: got ${pairs.length} pairs")
      assert(pairs.forall { case (a, b) => a < 10 && b < 10 },
        "only the first maxBucket members may appear in pairs")
    } finally q.stop()
  }

  test("shuffled arrival: exactDedupStream keeps exactly one valid representative per content") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The q80 equality gate replays in id order, where first-seen == min id
    // globally. The operator's own contract is weaker and order-proof: ONE
    // representative per distinct content, drawn from that content's id
    // group (the min of the batch where the content first appeared). Pin
    // that contract under a shuffled tape so the gate never silently
    // depends on arrival order.
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val shuffled = new scala.util.Random(13).shuffle(docs)
    val groups = docs.groupBy(_._2).map { case (text, g) => text -> g.map(_._1).toSet }
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.exactDedupStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("dedup_shuffled_out")
      .outputMode("append").start()
    try {
      shuffled.grouped(math.max(1, shuffled.size / 3 + 1)).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
      val kept = spark.table("dedup_shuffled_out").collect().map(_.getLong(0)).toSet
      assert(kept.size == groups.size,
        s"exactly one representative per distinct content: ${kept.size} vs ${groups.size}")
      val byId = docs.toMap
      val keptContents = kept.map(byId)
      assert(keptContents.size == groups.size, "no two representatives share content")
    } finally q.stop()
  }

  test("shuffled arrival: uncapped near-dup candidate set is order-invariant; capped stays a first-K-arrivals subset") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Uncapped, the bucket index accumulates every member eventually, so
    // the candidate set equals the batch band join in ANY arrival order —
    // the q75 gate's id-ordered replay is a convenience, not a dependency.
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val shuffled = new scala.util.Random(29).shuffle(docs)
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.nearDupCandidatesStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = stream.toDF().toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("neardup_shuffled_out")
      .outputMode("append").start()
    try {
      shuffled.grouped(math.max(1, shuffled.size / 3 + 1)).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
      val got = spark.table("neardup_shuffled_out").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      val want = graft.operators.Dedup.minhashLsh(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"), threshold = 0.0)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(want.nonEmpty && got == want,
        s"uncapped candidates must be arrival-order-invariant: stream=${got.size} batch=${want.size}")
    } finally q.stop()

    // With a binding cap, cold buckets keep their first maxBucket ARRIVALS
    // (ids sorted within a micro-batch), not the globally-lowest ids the
    // id-ordered batch cap keeps — the documented at-least-once/subset
    // contract: pairs only among the first-K arrivals, bounded by C(K,2).
    val hot = (0L until 60L).map(i => (i, "identical boilerplate body shared " +
      "verbatim by every single document in this synthetic hot cluster"))
    val hotShuffled = new scala.util.Random(31).shuffle(hot)
    // members = lowest 10 ids of the FIRST batch (within-batch sort fills
    // the bucket before batch 2 arrives)
    val expectedMembers = hotShuffled.take(20).map(_._1).sorted.take(10).toSet
    val input2 = MemoryStream[(Long, String)]
    val stream2 = StreamingOps.nearDupCandidatesStream(
      input2.toDF().toDF("doc_id", "text"), "doc_id", "text", maxBucket = 10)
    val q2 = stream2.toDF().toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("neardup_shuffled_cap_out")
      .outputMode("append").start()
    try {
      hotShuffled.grouped(20).foreach { c => input2.addData(c); q2.processAllAvailable() }
      val pairs = spark.table("neardup_shuffled_cap_out").distinct().collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      assert(pairs.nonEmpty && pairs.length <= 10 * 9 / 2)
      assert(pairs.forall { case (a, b) =>
        expectedMembers.contains(a) && expectedMembers.contains(b)
      }, s"pairs must stay among the first-K arrivals $expectedMembers: ${pairs.toSeq}")
    } finally q2.stop()
  }

  test("exactDedupStream keeps min-id per content across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // content A appears in batches 1+2 (ids 0, 3), B in batch 1 (id 1),
    // C only in batch 2 (id 5); duplicate of C in batch 3 (id 7)
    val b1 = Seq((0L, "alpha body"), (1L, "beta body"), (3L, "alpha body"))
    val b2 = Seq((5L, "gamma body"), (6L, "alpha body"))
    val b3 = Seq((7L, "gamma body"), (8L, "delta body"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.exactDedupStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("dedup_stream_out")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3).foreach { c => input.addData(c); q.processAllAvailable() }
      val kept = spark.table("dedup_stream_out").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(0L, 1L, 5L, 8L),
        s"first-seen min id per content must win: $kept")
    } finally q.stop()
  }

  test("driver-gate q55/q56 streaming entries equal their batch counterparts") {
    val d = "/root/testdata/sf0.001"
    def rowsOf(name: String): Seq[String] =
      graft.SparkEntry.queries(name)(spark, d).collect().map(_.toString).toSeq
    val pnlStream = rowsOf("q55_streaming_pnl")
    assert(pnlStream.nonEmpty && pnlStream == rowsOf("q06_pnl_replay"))
    val smaStream = rowsOf("q56_streaming_sma")
    assert(smaStream.nonEmpty && smaStream == rowsOf("q16_market_forecasts"))
  }

  test("watermarked tumbling window finalizes once and drops late data") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int, s: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-15 10:$min%02d:$s%02d")
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDS().toDF("ts", "hub", "v")
    val q = StreamingOps.windowedAgg(df, "ts", "hub", "v",
        windowDur = "10 minutes", slide = None, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ww_out").outputMode("append").start()
    try {
      // window [10:00,10:10): two rows
      input.addData((ts(0), "H1", 1.0), (ts(5), "H1", 2.0)); q.processAllAvailable()
      // advance event time past the window end...
      input.addData((ts(21), "H1", 4.0)); q.processAllAvailable()
      // ...and once more so the watermark (computed from the PREVIOUS
      // batch's max) passes 10:10 and the first window finalizes
      input.addData((ts(31), "H1", 8.0)); q.processAllAvailable()
      val afterClose = spark.table("ww_out").collect()
      assert(afterClose.exists(r =>
        r.getAs[java.sql.Timestamp]("window_start") == ts(0) && r.getAs[Long]("n") == 2L),
        s"first window should finalize with n=2, got ${afterClose.mkString(";")}")
      // a late row inside the closed window must be dropped, not re-emitted
      input.addData((ts(2), "H1", 100.0)); q.processAllAvailable()
      input.addData((ts(41), "H1", 16.0)); q.processAllAvailable()
      val rows = spark.table("ww_out").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
          r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      assert(rows.count(_._1 == ts(0)) == 1, "closed window must not re-emit")
      assert(rows.find(_._1 == ts(0)).get._3 == 3.0, "late row must not change the sum")
    } finally q.stop()
  }

  test("stream-stream interval join pairs each trade with in-window prices") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int, s: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-15 10:$min%02d:$s%02d")
    val trades = MemoryStream[(String, java.sql.Timestamp, Double)]
    val prices = MemoryStream[(String, java.sql.Timestamp, Double)]
    val out = StreamingOps.intervalJoinStream(
      trades.toDS().toDF("hub", "t_ts", "t_px"),
      prices.toDS().toDF("p_hub", "p_ts", "p_px"),
      leftKey = "hub", rightKey = "p_hub", leftTs = "t_ts", rightTs = "p_ts",
      lookbackSec = 300L, watermarkDelay = "0 seconds")
    val q = out.select(col("hub"), col("t_ts"), col("p_ts"), col("p_px"))
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      prices.addData(("H1", ts(0), 40.0), ("H1", ts(4), 41.0), ("H1", ts(12), 42.0),
        ("H2", ts(4), 99.0))
      trades.addData(("H1", ts(5), 40.5))
      q.processAllAvailable()
      val rows = spark.table("ij_out").collect()
        .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("p_ts"), r.getAs[Double]("p_px")))
      // trade at 10:05 with 5-min lookback sees 10:00 and 10:04, not 10:12,
      // and never H2's price
      assert(rows.toSet == Set(("H1", ts(0), 40.0), ("H1", ts(4), 41.0)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("bucketed interval join equals the reference predicate on a random tape") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = java.sql.Timestamp.valueOf("2024-01-15 08:00:00").getTime
    def ts(offSec: Long) = new java.sql.Timestamp(base + offSec * 1000)
    val trades = Seq.tabulate(60) { i =>
      ("H" + rnd.nextInt(3), ts(rnd.nextInt(7200).toLong), i.toLong)
    }.sortBy(_._2.getTime)
    val prices = Seq.tabulate(200) { i =>
      ("H" + rnd.nextInt(3), ts(rnd.nextInt(7200).toLong), 1000L + i)
    }.sortBy(_._2.getTime)
    val got = graft.streaming.MemoryReplay.replay2(spark, trades, prices, nBatches = 3)(
        (tl, pr) => StreamingOps.intervalJoinStream(
          tl.toDF("hub", "t_ts", "t_id"), pr.toDF("p_hub", "p_ts", "p_id"),
          leftKey = "hub", rightKey = "p_hub", leftTs = "t_ts", rightTs = "p_ts",
          lookbackSec = 300L, watermarkDelay = "10 minutes")
          .select(col("t_id"), col("p_id")).as[(Long, Long)])
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (h, tt, tid) <- trades
      (ph, pt, pid) <- prices
      if h == ph && pt.getTime >= tt.getTime - 300000 && pt.getTime <= tt.getTime
    } yield (tid, pid)).toSet
    assert(want.nonEmpty && got == want,
      s"got ${got.size} want ${want.size}; missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("streaming session windows finalize per gap behind the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int, s: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-15 10:$min%02d:$s%02d")
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDS().toDF("ts", "hub", "v")
    val q = StreamingOps.sessionAgg(df, "ts", "hub", "v",
        gap = "5 minutes", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // session 1: 10:00, 10:03 (within gap); then a 20-min silence
      input.addData((ts(0), "H1", 1.0), (ts(3), "H1", 2.0)); q.processAllAvailable()
      input.addData((ts(23), "H1", 4.0)); q.processAllAvailable()
      input.addData((ts(40), "H1", 8.0)); q.processAllAvailable()
      input.addData((ts(55), "H1", 16.0)); q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("sess_start"),
          r.getAs[java.sql.Timestamp]("sess_end"), r.getAs[Long]("n"),
          r.getAs[Double]("sum_value")))
      val s1 = rows.find(_._1 == ts(0))
      assert(s1.nonEmpty, s"first session must have finalized: ${rows.toSeq}")
      assert(s1.get._2 == ts(8) && s1.get._3 == 2L && s1.get._4 == 3.0,
        "session end = last event + gap; both events merged")
      assert(rows.count(_._1 == ts(0)) == 1, "finalized session emits once")
    } finally q.stop()
  }

  test("windowedAgg recovers watermark+window state across kill-and-restart") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(TestSpark.tmpDir("wagg_ckpt"))
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-15 10:$min%02d:00")
    def addFile(rows: Seq[(java.sql.Timestamp, String, Double)], name: String): Unit = {
      val stage = root.resolve(s"stage_$name")
      rows.toDF("ts", "hub", "v").coalesce(1).write.json(stage.toString)
      val src = java.nio.file.Files.list(stage).iterator()
      var found: java.nio.file.Path = null
      while (src.hasNext) { val p = src.next(); if (p.toString.endsWith(".json")) found = p }
      java.nio.file.Files.move(found, inDir.resolve(s"$name.json"))
      ()
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts TIMESTAMP, hub STRING, v DOUBLE")
    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).json(inDir.toString)
      val q = StreamingOps.windowedAgg(in, "ts", "hub", "v",
          windowDur = "10 minutes", slide = None, watermarkDelay = "0 seconds")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    addFile(Seq((ts(0), "H1", 1.0), (ts(5), "H1", 2.0), (ts(21), "H1", 4.0)), "0000")
    runOnce() // watermark state (10:21) committed, then the query dies
    addFile(Seq((ts(31), "H1", 8.0)), "0001")
    runOnce() // restart: watermark 10:21 closes [10:00,10:10) exactly once
    addFile(Seq((ts(41), "H1", 16.0)), "0002")
    runOnce() // watermark 10:31 closes [10:20,10:30)
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
    assert(rows.count(_._1 == ts(0)) == 1, s"first window exactly once: ${rows.toSeq}")
    assert(rows.find(_._1 == ts(0)).get._2 == 2L)
    assert(rows.count(_._1 == ts(20)) == 1, s"10:20 window exactly once: ${rows.toSeq}")
    assert(rows.find(_._1 == ts(20)).get._3 == 4.0)
  }

  test("dedupStream collapses duplicate ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-15 10:00:$s%02d")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDS().toDF("id", "ts", "payload")
    val q = StreamingOps.dedupStream(df, Seq("id"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    try {
      input.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a-dup"))
      q.processAllAvailable()
      input.addData((2L, ts(3), "b-dup"), (3L, ts(4), "c"))
      q.processAllAvailable()
      val ids = spark.table("dd_out").collect().map(_.getAs[Long]("id")).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("ingest parses both producer ISO-8601 timestamp variants") {
    import spark.implicits._
    val raw = Seq(
      """{"ts": "2024-01-15T10:30:45.123456", "hub": "PJM-WEST", "price_mwh": 47.12}""",
      """{"ts": "2024-01-15T10:30:45.123456+00:00", "hub": "ERCOT-HOUSTON", "price_mwh": 31.5}"""
    ).toDF("value")
    val parsed = Ingest.prices(raw).orderBy(col("hub"))
    val rows = parsed.collect()
    assert(rows.length == 2)
    val expected = java.time.Instant.parse("2024-01-15T10:30:45.123456Z")
    rows.foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("ts_utc").toInstant == expected)
    }
    assert(rows.map(_.getAs[String]("ts")).forall(_.startsWith("2024-01-15T10:30:45")))
  }

  test("ingest drops malformed frames instead of forwarding null rows") {
    import spark.implicits._
    val raw = Seq(
      """{"ts": "2024-01-15T10:30:45.123456", "hub": "H1", "price_mwh": 47.12}""",
      """not json at all""",
      """{"wrong": "shape"}""",
      """{"ts": "NOT-A-TIMESTAMP", "hub": "H2", "price_mwh": 1.0}""",
      """{"ts": "2024-01-15T10:30:46", "hub": "H4", "price_mwh": "forty-eight"}""",
      """{"ts": "2024-01-15T10:30:46", "hub": "H5"}""",
      """{"ts": "2024-01-15T10:30:46", "hub": "H3", "price_mwh": 48.0}"""
    ).toDF("value")
    val parsed = Ingest.prices(raw).collect()
    assert(parsed.length == 2, s"only the two valid frames survive, got ${parsed.length}")
    assert(parsed.map(_.getAs[String]("hub")).sorted.toSeq == Seq("H1", "H3"))
    parsed.foreach(r => assert(r.getAs[java.sql.Timestamp]("ts_utc") != null))
  }

  test("ingest rejects side output carries each dropped frame with a reason") {
    import spark.implicits._
    val raw = Seq(
      """{"ts": "2024-01-15T10:30:45.123456", "hub": "H1", "price_mwh": 47.12}""",
      """not json at all""",
      """{"ts": "NOT-A-TIMESTAMP", "hub": "H2", "price_mwh": 1.0}""",
      """{"ts": "2024-01-15T10:30:46", "hub": "H4", "price_mwh": "forty-eight"}""",
      """{"ts": "2024-01-15T10:30:46", "hub": "H5"}"""
    ).toDF("value")
    val r = Ingest.rejects(raw, graft.model.Schemas.priceTick).collect()
      .map(x => (x.getAs[String]("value"), x.getAs[String]("reason"))).toMap
    assert(r.size == 4)
    assert(r("not json at all") == "malformed_json")
    assert(r("""{"ts": "2024-01-15T10:30:46", "hub": "H4", "price_mwh": "forty-eight"}""") == "malformed_json")
    assert(r("""{"ts": "2024-01-15T10:30:46", "hub": "H5"}""") == "missing_field")
    assert(r("""{"ts": "NOT-A-TIMESTAMP", "hub": "H2", "price_mwh": 1.0}""") == "bad_ts")
  }

  test("ingest observed metric counts dropped frames per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val q = Ingest.prices(input.toDF())
      .writeStream.format("memory").queryName("obs_out").outputMode("append").start()
    try {
      input.addData(
        """{"ts": "2024-01-15T10:30:45", "hub": "H1", "price_mwh": 47.12}""",
        """garbage""",
        """{"ts": "2024-01-15T10:30:46", "hub": "H2", "price_mwh": 48.0}""")
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_ingest_prices"))).last
      assert(m.getAs[Long]("frames_in") == 3L)
      assert(m.getAs[Long]("frames_dropped") == 1L)
    } finally q.stop()
  }

  test("ingest parses trades with all wire fields") {
    import spark.implicits._
    val raw = Seq(
      """{"trade_id": 123, "ts": "2024-01-15T10:30:45.123456", "account": "ACC1", "hub": "PJM-WEST", "side": "BUY", "mw": 25, "price_mwh": 46.95}"""
    ).toDF("value")
    val r = Ingest.trades(raw).collect().head
    assert(r.getAs[Long]("trade_id") == 123L)
    assert(r.getAs[String]("side") == "BUY" && r.getAs[Int]("mw") == 25)
  }

  test("market union tags and merges price/trade frames") {
    import spark.implicits._
    val p = Ingest.prices(Seq(
      """{"ts": "2024-01-15T10:00:00", "hub": "H1", "price_mwh": 50.0}""").toDF("value"))
      .withColumn("off", lit(0L))
    val t = Ingest.trades(Seq(
      """{"trade_id": 1, "ts": "2024-01-15T10:00:01", "account": "A", "hub": "H1", "side": "SELL", "mw": 5, "price_mwh": 49.5}""").toDF("value"))
      .withColumn("off", lit(1L))
    val u = Ingest.marketUnion(p, t, col("off"), col("off")).as[MarketEvent]
      .collect().sortBy(_.seq)
    assert(u.map(_.kind).toSeq == Seq("price", "trade"))
    assert(u(1).account == "A" && u(1).mw == 5)
  }

  test("mgAdd runs the classic Misra-Gries step, incl. the decrement-all branch") {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    Seq("a", "a", "b").foreach(StreamingOps.mgAdd(m, 2, _))
    assert(m.toMap == Map("a" -> 2L, "b" -> 1L))
    // full + unseen item: every counter decrements, zeros drop, c NOT added
    StreamingOps.mgAdd(m, 2, "c")
    assert(m.toMap == Map("a" -> 1L))
    // a slot is free again, so the next unseen item takes it
    StreamingOps.mgAdd(m, 2, "d")
    assert(m.toMap == Map("a" -> 1L, "d" -> 1L))
  }

  test("heavyHittersStream: batch-split invariant, state carries, guarantees hold") {
    import spark.implicits._
    val tape = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .as[graft.streaming.DocTextEvent].collect().toSeq.sortBy(_.doc_id)
    val k = 10
    def finalStates(nBatches: Int): Map[String, (Seq[String], Seq[Long], Long)] =
      graft.streaming.MemoryReplay.replay(spark, tape, nBatches,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(ds =>
          StreamingOps.heavyHittersStream(ds, k))
        .groupBy(col("source"))
        .agg(max_by(struct(col("items"), col("ests"), col("n_tok")),
          col("batch")).as("m"))
        .select(col("source"), col("m.items"), col("m.ests"), col("m.n_tok"))
        .collect()
        .map(r => r.getString(0) -> (r.getSeq[String](1), r.getSeq[Long](2),
          r.getLong(3))).toMap
    // the fold is sequential in global doc order, so splitting the tape
    // into 1 vs 4 ordered micro-batches must give the IDENTICAL end state —
    // this is the state-carry-across-batches proof, exact not bound-based
    val one = finalStates(1)
    val four = finalStates(4)
    assert(one == four, "final MG state must not depend on the batch split")
    // guarantees of the final state vs exact counts, per source
    val exact: Map[(String, String), Long] = tape
      .flatMap(d => d.text.split(" ", -1).filter(_.nonEmpty).map(t => (d.source, t)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totals: Map[String, Long] = exact.groupBy(_._1._1)
      .view.mapValues(_.values.sum).toMap
    for ((src, (items, ests, nTok)) <- four) {
      assert(nTok == totals(src), s"$src: stream total $nTok != ${totals(src)}")
      assert(items.size <= k)
      val est = items.zip(ests).toMap
      val bound = totals(src).toDouble / (k + 1)
      est.foreach { case (t, e) =>
        val c = exact((src, t))
        assert(e <= c, s"$src/$t: est $e over-counts exact $c")
        assert(c - e <= bound, s"$src/$t: error ${c - e} above n/(k+1)=$bound")
      }
      exact.collect { case ((`src`, t), c) if c > bound =>
        assert(est.contains(t), s"$src: heavy item $t (count $c) missing from sketch")
      }
    }
  }

  test("tickGapStream: batch-split invariant and equals the batch audit") {
    import spark.implicits._
    def us(ts: java.sql.Timestamp): Long =
      (ts.getTime - ts.getNanos / 1000000) * 1000L + ts.getNanos / 1000
    val tape = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[graft.streaming.TimedEvent].collect().toSeq
      .sortBy(e => (us(e.ts), e.event_id))
    val thr = 1800000000L
    def finals(nBatches: Int) =
      graft.streaming.MemoryReplay.replay(spark, tape, nBatches,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(ds =>
          StreamingOps.tickGapStream(ds, thr))
        .groupBy(col("event_type"))
        .agg(max_by(struct(col("n_ticks"), col("span_us"), col("max_gap_us"),
          col("n_gaps_gt")), col("batch")).as("m"))
        .select(col("event_type"), col("m.n_ticks"), col("m.span_us"),
          col("m.max_gap_us"), col("m.n_gaps_gt"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
        .toSet
    // splitting the ordered tape 1 vs 5 ways must not change any final
    // audit row — the state-carry proof
    val one = finals(1); val five = finals(5)
    assert(one == five, "final gap state must not depend on the batch split")
    // and the stream's final state must equal the batch operator exactly
    val batch = graft.operators.Sequential.tickGapAudit(
        Tables.events(spark, "/root/testdata/sf0.001"), col("event_type"),
        unix_micros(col("ts")), col("event_id"), thr)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      .toSet
    assert(five == batch, "streaming audit must equal the batch audit")
  }

  test("drawdownStream: batch-split invariant and equals the batch operator") {
    import spark.implicits._
    def us(ts: java.sql.Timestamp): Long =
      (ts.getTime - ts.getNanos / 1000000) * 1000L + ts.getNanos / 1000
    val tape = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[graft.streaming.TimedEvent].collect().toSeq
      .sortBy(e => (us(e.ts), e.event_id))
    def finals(nBatches: Int) =
      graft.streaming.MemoryReplay.replay(spark, tape, nBatches,
          mode = org.apache.spark.sql.streaming.OutputMode.Update())(ds =>
          StreamingOps.drawdownStream(ds))
        .groupBy(col("event_type"))
        .agg(max_by(struct(col("n_ticks"), col("max_cents"), col("min_cents"),
          col("max_drawdown_cents")), col("batch")).as("m"))
        .select(col("event_type"), col("m.n_ticks"), col("m.max_cents"),
          col("m.min_cents"), col("m.max_drawdown_cents"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
    val one = finals(1); val five = finals(5)
    assert(one == five, "final drawdown state must not depend on the split")
    val batch = graft.operators.Sequential.maxDrawdown(
        Tables.events(spark, "/root/testdata/sf0.001"), col("event_type"),
        unix_micros(col("ts")), col("event_id"),
        floor(col("value") * 100).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    assert(five == batch, "streaming drawdown must equal the batch operator")
  }

  test("TTL'd near-dup index: pairs only within the window, expired content re-pairs") {
    import spark.implicits._
    // four identical texts (every band shared) at 1 s, 2 s, 100 s, 101 s
    // with ttl = 10 s: only the two Δ=1 s pairs may emit — the 100 s gap
    // must evict docs 1/2 before 3/4 arrive (the re-pairing of doc 3 with
    // doc 4 proves an expired bucket warms back up, not just empties)
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val tape = Seq(
      (1L, new java.sql.Timestamp(1000L), text),
      (2L, new java.sql.Timestamp(2000L), text),
      (3L, new java.sql.Timestamp(100000L), text),
      (4L, new java.sql.Timestamp(101000L), text))
    val (got, state) = graft.tools.StreamStateProbe.stateOf(spark) {
      graft.streaming.MemoryReplay.replay(spark, tape, nBatches = 4)(ds =>
          StreamingOps.nearDupCandidatesStreamTtl(
            ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
            ttlMs = 10000L))
        .toDF("doc_a", "doc_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got == Set((1L, 2L), (3L, 4L)), s"got=$got")
    // bucket state after the replay holds only the live window's members
    // (docs 3 and 4), not the evicted ones
    assert(state.size == 1, s"one replay, one query: $state")
    val rows = state.head.map(_._2).sum
    assert(rows > 0 && rows <= 8, s"state rows=$rows — expected ≤ numBands buckets")
  }

  test("TTL'd exact dedup: sliding refresh suppresses a dup chain, expiry re-keeps") {
    import spark.implicits._
    // content X at 1 s, 2 s, 3 s with ttl = 1.5 s: doc 2 is a dup (Δ=1 s)
    // and doc 3 is STILL a dup (Δ from doc 2 = 1 s) even though it is 2 s
    // past the keeper — the dup at 2 s REFRESHED the window (sliding
    // semantics, the lag-window predicate). Doc 4 at 10 s (Δ=7 s) is a
    // fresh keeper. Content Y interleaved proves per-content isolation.
    val x = "x " * 5; val y = "y " * 5
    val tape = Seq(
      (1L, new java.sql.Timestamp(1000L), x),
      (2L, new java.sql.Timestamp(2000L), x),
      (5L, new java.sql.Timestamp(2500L), y),
      (3L, new java.sql.Timestamp(3000L), x),
      (4L, new java.sql.Timestamp(10000L), x))
    val got = graft.streaming.MemoryReplay.replay(spark, tape, nBatches = 3)(ds =>
        StreamingOps.exactDedupStreamTtl(
          ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
          ttlMs = 1500L))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L, 5L), s"got=$got")
  }

  test("TTL'd exact dedup: keeper set is invariant to the micro-batch split") {
    import spark.implicits._
    // 30 events over 3 contents with gaps straddling ttl = 4 s; expected
    // keepers recomputed independently via the batch lag window — the
    // q193 oracle's SQL, in Spark — so any split must reproduce it
    val contents = Seq("alpha beta gamma", "delta epsilon", "zeta eta theta")
    val tape = (0 until 30).map { i =>
      val text = contents(i % 3)
      // irregular spacing: same content recurs at Δ of 3, 6, 9, ... s
      (i.toLong + 1L, new java.sql.Timestamp((1 + i + (i / 7) * 5).toLong * 1000L), text)
    }.sortBy(e => (e._2.getTime, e._1))
    val expected = tape.toDF("doc_id", "ts", "text")
      .withColumn("prev", lag(col("ts").cast("long"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
          .orderBy(col("ts"))))
      .filter(col("prev").isNull ||
        col("ts").cast("long") - col("prev") > 4L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    Seq(1, 4, 10).foreach { nb =>
      val got = graft.streaming.MemoryReplay.replay(spark, tape, nBatches = nb)(
          ds => StreamingOps.exactDedupStreamTtl(
            ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
            ttlMs = 4000L))
        .collect().map(_.getLong(0)).toSet
      assert(got == expected, s"nBatches=$nb got=$got expected=$expected")
    }
  }

  test("TTL'd ops reject a nonzero watermark delay (monotone event-time contract)") {
    import spark.implicits._
    val df = Seq((1L, new java.sql.Timestamp(1000L), "t"))
      .toDF("doc_id", "ts", "text")
    intercept[IllegalArgumentException] {
      StreamingOps.exactDedupStreamTtl(df, "doc_id", "ts", "text",
        ttlMs = 1000L, watermarkDelay = "5 seconds")
    }
    intercept[IllegalArgumentException] {
      StreamingOps.nearDupCandidatesStreamTtl(df, "doc_id", "ts", "text",
        ttlMs = 1000L, watermarkDelay = "5 seconds")
    }
  }

  test("sketchNearDupStream equals batch hamming64Pairs at any batch split") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    val tape = (0L until 48L).map(id => (id, Multimodal.dHashPatternOf(id)))
    val batch = Dedup.hamming64Pairs(tape.toDF("doc_id", "sk"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(batch.nonEmpty)
    for (nBatches <- Seq(1, 4, 10)) {
      val stream = MemoryReplay.replay(spark, tape, nBatches)(ds =>
          StreamingOps.sketchNearDupStream(ds.toDF("doc_id", "sk"), "doc_id", "sk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .distinct.sorted.toSeq
      assert(stream == batch, s"nBatches=$nBatches")
    }
  }

  test("sketchNearDupStreamTtl: gap == ttl pairs, gap > ttl does not; split-invariant") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val sk = 0x1234_5678_9ABC_DEF0L
    // identical sketches at t=1, t=11, t=23: gap(1,11)=10s == ttl -> pair;
    // gap(11,23)=12s > ttl -> no pair; gap(1,23)=22s > ttl -> no pair
    val tape = Seq((1L, ts(1), sk), (2L, ts(11), sk), (3L, ts(23), sk))
    for (nBatches <- Seq(1, 3)) {
      val got = MemoryReplay.replay(spark, tape, nBatches)(ds =>
          StreamingOps.sketchNearDupStreamTtl(ds.toDF("doc_id", "ts", "sk"),
            "doc_id", "ts", "sk", ttlMs = 10000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .distinct.sorted.toSeq
      assert(got == Seq((1L, 2L, 0L)), s"nBatches=$nBatches: $got")
    }
  }

  test("sketchNearDupStream verifies in the fold: far sketches share a chunk, emit nothing") {
    import spark.implicits._
    // same low chunk (0xAAAA), other 48 bits complementary -> hamming 48:
    // the bucket collides but the popcount verify must reject the pair
    val a = 0x000000000000AAAAL
    val b = 0xFFFFFFFFFFFFAAAAL
    val out = MemoryReplay.replay(spark, Seq((1L, a), (2L, b)), 2)(ds =>
        StreamingOps.sketchNearDupStream(ds.toDF("doc_id", "sk"), "doc_id", "sk"))
      .collect()
    assert(out.isEmpty)
  }
}
