package graft.tools

import graft.sources.{MarketGen, TapePublisher}
import graft.streaming.IngestJobs
import graft.streaming.IngestJobs.{SinkConfig, SourceConfig}

/** Live-infrastructure smoke: the kafka source and jdbc sink branches
  * (IngestJobs.rawStream / writeTable) against REAL containers — the two
  * code paths the sandbox can only option-wire-test (zero egress, no
  * broker, no connector jars). Run via `smoke/run_smoke.sh`, which brings
  * up Kafka + Postgres (smoke/docker-compose.yml) and spark-submits this
  * main with the kafka connector and Postgres driver on the classpath.
  *
  * Flow = the reference topology end-to-end (docker-compose.yml:12-133):
  * generate a seeded tape (MarketGen — the producers' distributions),
  * publish it to the four reference topics (TapePublisher.publishKafka,
  * producer.py:91-103's send loop), ingest kafka → jdbc
  * (IngestPricesAndTradesJob / IngestDayAheadAndRealTimeJob equivalents),
  * then read the tables back over jdbc and compare counts to the tape.
  * Prints one PASS/FAIL line per table; exits non-zero on any FAIL.
  *
  * Env: GRAFT_SMOKE_BROKER (host:port), GRAFT_SMOKE_JDBC (jdbc:postgresql
  * url), GRAFT_SMOKE_USER / GRAFT_SMOKE_PASSWORD.
  */
object LiveSmoke {
  def main(args: Array[String]): Unit = {
    val broker = sys.env("GRAFT_SMOKE_BROKER")
    val url = sys.env("GRAFT_SMOKE_JDBC")
    val user = sys.env.getOrElse("GRAFT_SMOKE_USER", "graft")
    val password = sys.env.getOrElse("GRAFT_SMOKE_PASSWORD", "graft")
    val spark = graft.GraftSession.local(4)

    val tape = MarketGen.marketTape(seed = 42L, steps = 200)
    val lmp = MarketGen.lmpTape(seed = 42L, steps = 50)
    TapePublisher.publishKafka(spark, broker, "prices", tape.prices.map(MarketGen.priceJson))
    TapePublisher.publishKafka(spark, broker, "trades", tape.trades.map(MarketGen.tradeJson))
    TapePublisher.publishKafka(spark, broker, "dayahead_prices", lmp.da.map(MarketGen.daJson))
    TapePublisher.publishKafka(spark, broker, "realtime_prices", lmp.rt.map(MarketGen.rtJson))

    val ckpt = java.nio.file.Files.createTempDirectory("graft_smoke_ckpt").toString
    val sink = SinkConfig("jdbc", url = url, user = user, password = password)
    def src(topic: String) = IngestJobs.rawStream(spark, SourceConfig("kafka", topic, broker))
    val queries =
      IngestJobs.ingestPricesAndTrades(src("prices"), src("trades"), sink, ckpt) ++
        IngestJobs.ingestDaRt(src("dayahead_prices"), src("realtime_prices"), sink, ckpt)
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())

    val expected = Map(
      "prices" -> tape.prices.size, "trades" -> tape.trades.size,
      "dayahead_prices" -> lmp.da.size, "realtime_prices" -> lmp.rt.size)
    var failed = false
    expected.toSeq.sortBy(_._1).foreach { case (table, want) =>
      val got = spark.read.format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("user", user).option("password", password)
        .load().count()
      val ok = got == want.toLong
      if (!ok) failed = true
      println(s"${if (ok) "PASS" else "FAIL"} $table: jdbc rows $got, published $want")
    }

    // r15 (write side modernized r16): the TABLE-LOG surface on the live
    // broker — kafka ingest → exactly-once commit-log append through the
    // STREAMING SINK (`writeStream.format("graftlog")`, epoch tokens in
    // the manifest) → graftlog streaming tail (versions as offsets, one
    // version per micro-batch, rows never on the driver). The loop
    // ingest → commit → tail, end to end against real Kafka.
    val logRoot = java.nio.file.Files
      .createTempDirectory("graft_smoke_log").toString
    val appendQ = graft.streaming.Ingest.prices(src("prices"))
      .writeStream.format("graftlog")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_smoke_logck").toString)
      .start(logRoot)
    appendQ.processAllAvailable(); appendQ.stop()
    val committed = graft.sources.TableLog.read(spark, logRoot).count()
    val tailed = new java.util.concurrent.atomic.AtomicLong(0L)
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val tailQ = spark.readStream.format("graftlog").load(logRoot)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        tailed.addAndGet(b.count()); batches.incrementAndGet(); ()
      }.start()
    tailQ.processAllAvailable(); tailQ.stop()
    val versions = graft.sources.TableLog.versions(spark, logRoot).size
    val logOk = committed == tape.prices.size.toLong &&
      tailed.get() == committed && batches.get() == versions.toLong
    if (!logOk) failed = true
    println(s"${if (logOk) "PASS" else "FAIL"} tablelog: committed " +
      s"$committed of ${tape.prices.size} published, tailed ${tailed.get()} " +
      s"across ${batches.get()} micro-batches ($versions versions)")

    spark.stop()
    if (failed) sys.exit(1)
  }
}
