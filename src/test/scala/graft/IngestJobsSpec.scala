package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MarketEvent, Pnl, PnlKernel, PnlRow}
import graft.sources.{MarketGen, TapePublisher}
import graft.streaming.{Ingest, IngestJobs, StreamingOps}
import graft.streaming.IngestJobs.{SinkConfig, SourceConfig}

/** Seeded generators (SURVEY §2 S6-S9) + wired ingest jobs (S1-S4, W1-W7):
  * distribution invariants of the tapes, an end-to-end replay writing every
  * job-written reference table from one generated tape, and checkpoint
  * kill-and-restart proofs for the PnL dual-sink writer.
  */
class IngestJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** State stores the query's last batch committed. */
  private def stateStores(q: StreamingQuery): Long =
    q.lastProgress.stateOperators.head.numStateStoreInstances

  /** A hub fold ran as one single-task stage: one state store, no shuffle. */
  private def assertSingleStateStage(q: StreamingQuery): Unit = {
    assert(stateStores(q) == 1)
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.treeString)
  }

  test("kafka source/sink option wiring matches the reference consumer/producer config") {
    // no broker or connector jar exists in the sandbox, so the option maps
    // ARE the testable wiring (rawStream/publishKafka consume these maps
    // verbatim): a typo'd key or value fails here, not silently in prod.
    // Reference: IngestPricesAndTradesJob.java:23-29 (bootstrap servers,
    // topic subscribe, OffsetsInitializer.earliest()).
    val src = graft.streaming.IngestJobs.SourceConfig(
      format = "kafka", path = "prices", broker = "broker:9092")
    assert(graft.streaming.IngestJobs.kafkaSourceOptions(src) == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "prices",
      "startingOffsets" -> "earliest"))
    assert(graft.sources.TapePublisher.kafkaSinkOptions("broker:9092", "trades") == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "topic" -> "trades"))
  }

  test("market tape is deterministic and matches producer distributions") {
    val steps = 400
    val t1 = MarketGen.marketTape(seed = 7, steps = steps)
    val t2 = MarketGen.marketTape(seed = 7, steps = steps)
    assert(t1 == t2, "same seed must replay bit-identically")

    // every step emits one tick per hub (producer.py emits all hubs each loop)
    assert(t1.prices.size == steps * MarketGen.Hubs.size)
    assert(t1.prices.map(_.hub).toSet == MarketGen.Hubs.toSet)
    // floor at 5.0, rounded to cents
    t1.prices.foreach { p =>
      assert(p.price_mwh >= 5.0)
      assert(math.abs(p.price_mwh * 100 - math.rint(p.price_mwh * 100)) < 1e-6)
    }
    // a trade on ~50% of steps (coin flip)
    val frac = t1.trades.size.toDouble / steps
    assert(frac > 0.4 && frac < 0.6, s"trade fraction $frac out of band")
    // trade ids count every step (reference increments before the coin flip)
    val ids = t1.trades.map(_.trade_id)
    assert(ids == ids.sorted && ids.distinct == ids && ids.last <= steps)
    assert(ids.size < steps, "ids must skip steps without trades")
    t1.trades.foreach { t =>
      assert(MarketGen.Accounts.contains(t.account))
      assert(MarketGen.MwChoices.contains(t.mw))
      assert(t.side == "BUY" || t.side == "SELL")
    }
    assert(t1.trades.map(_.side).toSet == Set("BUY", "SELL"))
    // trade price = hub price at that tick + U(-1, 1)
    val priceAt = t1.prices.map(p => (p.ts, p.hub) -> p.price_mwh).toMap
    t1.trades.foreach { t =>
      assert(math.abs(t.price_mwh - priceAt((t.ts, t.hub))) <= 1.0 + 1e-9)
    }
    // naive ISO-8601, no offset suffix (producer.py:89)
    assert(t1.prices.forall(!_.ts.contains("+")))
  }

  test("lmp tape: DA every 10 ticks, RT every tick, components sum to lmp") {
    val steps = 100
    val lt = MarketGen.lmpTape(seed = 11, steps = steps)
    assert(lt == MarketGen.lmpTape(seed = 11, steps = steps))
    assert(lt.da.size == (steps / 10) * MarketGen.Hubs.size)
    assert(lt.rt.size == steps * MarketGen.Hubs.size)
    lt.da.foreach { d =>
      assert(math.abs(d.lmp_da - (d.energy_da + d.congestion_da + d.loss_da)) <= 0.03)
      assert(d.ts.endsWith("+00:00"), "DA/RT timestamps are offset-aware")
    }
    lt.rt.foreach { r =>
      assert(math.abs(r.lmp_rt - (r.energy_rt + r.congestion_rt + r.loss_rt)) <= 0.03)
    }
  }

  test("ingest jobs replay a generated tape into every reference table") {
    import spark.implicits._
    val steps = 240
    val tape = MarketGen.marketTape(seed = 42, steps = steps)
    val lmp = MarketGen.lmpTape(seed = 43, steps = 100)

    val root = Paths.get(TestSpark.tmpDir("ingest_e2e"))
    val warehouse = root.resolve("warehouse").toString
    val ckpt = root.resolve("ckpt").toString
    val topics = root.resolve("topics").toString
    TapePublisher.publishAllFile(topics, tape, lmp)
    val pricesIn = Paths.get(topics, "prices")
    val tradesIn = Paths.get(topics, "trades")
    val daIn = Paths.get(topics, "dayahead_prices")
    val rtIn = Paths.get(topics, "realtime_prices")

    val sink = SinkConfig("parquet", warehouse)
    def raw(p: Path) = IngestJobs.rawStream(spark, SourceConfig("file", p.toString))

    // the four topic→table jobs
    val ingestQs =
      IngestJobs.ingestPricesAndTrades(raw(pricesIn), raw(tradesIn), sink, ckpt) ++
        IngestJobs.ingestDaRt(raw(daIn), raw(rtIn), sink, ckpt)

    // forecasts + pnl/exposure chained on the same replayed topic streams:
    // prices arrive before the step's trade, so seq 0 (price) < 1 (trade)
    // reproduces wire arrival order under the (ts, seq) sort.
    val events = Ingest.marketUnion(
      Ingest.prices(raw(pricesIn)), Ingest.trades(raw(tradesIn)),
      lit(0L), lit(1L)).as[MarketEvent]
    val fcQ = IngestJobs.writeForecasts(
      StreamingOps.forecastStream(events.filter(_.kind == "price")), sink, ckpt)
    val pnlQ = StreamingOps.writePnlAndExposure(
      StreamingOps.pnlStream(events), warehouse, s"$ckpt/pnl_dual")

    val qs = ingestQs :+ fcQ :+ pnlQ
    try {
      qs.foreach(_.processAllAvailable())
      assertSingleStateStage(fcQ)
      assertSingleStateStage(pnlQ)
    } finally qs.foreach(_.stop())

    def table(name: String) = spark.read.parquet(s"$warehouse/$name")
    // row counts match the tape exactly
    assert(table("prices").count() == steps * MarketGen.Hubs.size)
    assert(table("trades").count() == tape.trades.size)
    assert(table("dayahead_prices").count() == lmp.da.size)
    assert(table("realtime_prices").count() == lmp.rt.size)
    assert(table("forecasts").count() == steps * MarketGen.Hubs.size)
    // DDL parity: parsed UTC ts + raw wire string on every ingest table
    Seq("prices", "trades", "dayahead_prices", "realtime_prices").foreach { t =>
      val sch = table(t).schema
      assert(sch("ts").dataType.typeName == "timestamp", s"$t.ts")
      assert(sch.fieldNames.contains("ts_raw"), s"$t.ts_raw")
    }
    assert(table("dayahead_prices").schema.fieldNames.contains("lmp_da"))
    assert(table("realtime_prices").schema.fieldNames.contains("lmp_rt"))

    // the dual sink wrote both tables, and the streamed PnL equals the batch
    // replay of the same tape bit-for-bit
    val gotPnl = table("positions_pnl")
    assert(table("price_exposure").count() == gotPnl.count())
    val batchEvents = Ingest.marketUnion(
      Ingest.prices(spark.read.text(pricesIn.toString)),
      Ingest.trades(spark.read.text(tradesIn.toString)),
      lit(0L), lit(1L)).as[MarketEvent]
    val want = Pnl.replay(batchEvents).collect().map(_.toString).sorted
    val got = gotPnl.as[graft.operators.PnlRow].collect().map(_.toString).sorted
    assert(got.length == want.length && got.nonEmpty)
    assert(got.sameElements(want))
  }

  /** Kill-and-restart of the PnL dual sink over the sf0.001 events: `first`
    * writes half of them into a checkpoint and dies, then
    * [[StreamingOps.writePnlAndExposure]] resumes it over the other half.
    * The output must equal `Pnl.replay` of all events bit for bit, with no
    * duplicates or loss. Returns the state stores each run committed.
    */
  private def killAndRestart(
      first: (Dataset[PnlRow], String, String) => StreamingQuery): (Long, Long) = {
    import spark.implicits._
    val root = Paths.get(TestSpark.tmpDir("ingest_ckpt"))
    val inDir = root.resolve("in"); Files.createDirectories(inDir)
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = Encoders.product[MarketEvent].schema
    // default JSON timestampFormat truncates to millis; the fixture carries
    // micros, and losing them would perturb the (ts, seq) replay order
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

    val all = Pnl.eventsAsMarket(Tables.events(spark, "/root/testdata/sf0.001"))
      .collect().toSeq.sortBy(e => (e.ts.getTime, e.seq))
    val (half1, half2) = all.splitAt(all.size / 2)

    def addFile(part: Seq[MarketEvent], name: String): Unit = {
      val stage = root.resolve(s"stage_$name")
      part.toDS().coalesce(1).write.option("timestampFormat", tsFmt).json(stage.toString)
      val src = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".json")).get
      Files.move(src, inDir.resolve(s"$name.json"))
      ()
    }

    def runOnce(write: (Dataset[PnlRow], String, String) => StreamingQuery): Long = {
      val events = spark.readStream.schema(schema)
        .option("timestampFormat", tsFmt).json(inDir.toString).as[MarketEvent]
      val q = write(StreamingOps.pnlStream(events), outDir, ckpt)
      try { q.processAllAvailable(); stateStores(q) } finally q.stop()
    }

    addFile(half1, "0000")
    val storesFirst = runOnce(first) // processes half 1, commits checkpoint, dies
    addFile(half2, "0001")
    // the restarted query must resume state, not reprocess half 1
    val storesResumed = runOnce(StreamingOps.writePnlAndExposure)

    val want = Pnl.replay(all.toDS()).collect().map(_.toString).sorted
    val got = spark.read.parquet(s"$outDir/positions_pnl")
      .as[PnlRow].collect().map(_.toString).sorted
    assert(got.length == want.length, s"got ${got.length} rows, want ${want.length}")
    assert(got.sameElements(want))
    assert(spark.read.parquet(s"$outDir/price_exposure").count() == got.length)
    (storesFirst, storesResumed)
  }

  test("writePnlAndExposure recovers from a kill-and-restart without dupes or loss") {
    assert(killAndRestart(StreamingOps.writePnlAndExposure) == ((1L, 1L)))
  }

  test("writePnlAndExposure resumes a checkpoint that recorded 4 state partitions") {
    import spark.implicits._
    // the dual sink as it was written before it pinned one state partition:
    // a plain start() under the session's 4 shuffle partitions
    def fourPartitionWriter(pnl: Dataset[PnlRow], outDir: String,
        ckpt: String): StreamingQuery = {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "4")
      try pnl.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[PnlRow], _: Long) =>
          val b = batch.persist()
          b.write.mode("append").parquet(s"$outDir/positions_pnl")
          b.map(PnlKernel.exposure).write.mode("append")
            .parquet(s"$outDir/price_exposure")
          b.unpersist()
          ()
        }
        .start()
      finally spark.conf.set(key, prev)
    }
    // Spark restores the recorded count from the offset log: the resumed
    // query keeps 4 state stores (and its hash exchange), output unchanged
    assert(killAndRestart(fourPartitionWriter) == ((4L, 4L)))
  }

  test("publishFile is atomic: no temp file left, a file-source tail sees only whole files") {
    val root = TestSpark.tmpDir("publish")
    val topic = Paths.get(root, "prices"); Files.createDirectories(topic)
    val lines = 20000
    val nFiles = 8
    val frames = (0 until lines).map(i => f"""{"i":$i%08d}""")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    val q = spark.readStream.text(topic.toString)
      .select(input_file_name().as("f"))
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.groupBy("f").count().collect()
          .foreach(r => seen.add((r.getString(0), r.getLong(1))))
        ()
      }
      .start()
    // the tail lists the topic while the publisher is writing into it
    val publisher = new Thread(() =>
      (0 until nFiles).foreach(i =>
        TapePublisher.publishFile(root, "prices", frames, f"$i%04d")))
    try {
      publisher.start()
      while (publisher.isAlive) q.processAllAvailable()
      publisher.join()
      q.processAllAvailable()
    } finally q.stop()
    val got = seen.asScala.toSeq
    assert(got.size == nFiles, got)
    assert(got.forall(_._2 == lines), s"a file was read before it was whole: $got")
    assert(Files.list(topic).iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted == (0 until nFiles).map(i => f"$i%04d.json"))
  }
}
