package graft.pipebench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.MarketEvent
import graft.sources.TableLog
import graft.streaming.{Ingest, IngestJobs, StreamingOps}
import graft.streaming.IngestJobs.{SinkConfig, SourceConfig}

/** The jobs of one workload, started through the program's own entry
  * points. `role` says which layer a query's micro-batches belong to.
  */
trait Pipeline {
  def queries: Seq[(String, StreamingQuery)]
  /** Topics the publisher must write for these jobs. */
  def topics: Set[String]
  /** Block until every job has committed everything published so far. */
  def awaitCommit(): Unit
  def stop(): Unit = queries.foreach { case (_, q) =>
    try q.stop() catch { case e: Exception => System.err.println(s"[pipebench] stop: $e") }
  }
}

/** The paper's deployment on the file path: four topic→table ingest jobs
  * (`IngestJobs.ingestPricesAndTrades` / `ingestDaRt`), the SMA forecast
  * job (`StreamingOps.forecastStream` → `IngestJobs.writeForecasts`) and
  * the PnL+exposure job (`StreamingOps.pnlStream` →
  * `StreamingOps.writePnlAndExposure`), all writing parquet tables.
  */
final class ParquetPipeline(spark: SparkSession, pub: Publisher, root: String) extends Pipeline {
  import spark.implicits._

  val warehouse = s"$root/warehouse"
  private val ckpt = s"$root/ckpt"

  private def raw(t: String): DataFrame = IngestJobs.rawStream(spark, SourceConfig("file", pub.topic(t)))

  /** The fold jobs' input: one file source over the combined `market`
    * feed, split back into the price and trade topics, tagged and unioned
    * as in the program's ingest spec (prices seq 0, trades seq 1).
    */
  private def marketEvents(): Dataset[MarketEvent] = {
    val m = raw("market")
    val isTrade = col("value").contains("\"trade_id\"")
    Ingest.marketUnion(Ingest.prices(m.filter(!isTrade)), Ingest.trades(m.filter(isTrade)),
      lit(0L), lit(1L)).as[MarketEvent]
  }

  private val sink = SinkConfig("parquet", warehouse)
  val queries: Seq[(String, StreamingQuery)] =
    (IngestJobs.ingestPricesAndTrades(raw("prices"), raw("trades"), sink, ckpt) ++
      IngestJobs.ingestDaRt(raw("dayahead_prices"), raw("realtime_prices"), sink, ckpt))
      .map("ingest" -> _) ++ Seq(
      "fold" -> IngestJobs.writeForecasts(
        StreamingOps.forecastStream(marketEvents().filter(_.kind == "price")), sink, ckpt),
      "fold" -> StreamingOps.writePnlAndExposure(
        StreamingOps.pnlStream(marketEvents()), warehouse, s"$ckpt/pnl_dual"))

  val topics: Set[String] = Tape.Topics.toSet

  def awaitCommit(): Unit = queries.foreach(_._2.processAllAvailable())

  def table(name: String): DataFrame = spark.read.parquet(s"$warehouse/$name")
}

/** `prices` and `trades` through the exactly-once table log: one
  * `TableLog.appendStream` per topic (one version per micro-batch), and
  * one `graftlog` streaming tail per log counting what it consumes.
  */
final class LogPipeline(spark: SparkSession, pub: Publisher, root: String) extends Pipeline {
  val logs: Map[String, String] = Map("prices" -> s"$root/log/prices", "trades" -> s"$root/log/trades")
  val tailed: Map[String, AtomicLong] = logs.map { case (t, _) => t -> new AtomicLong }
  private val ckpt = s"$root/ckpt"

  private def raw(t: String): DataFrame = IngestJobs.rawStream(spark, SourceConfig("file", pub.topic(t)))

  private val appends: Seq[(String, StreamingQuery)] = Seq(
    "append" -> TableLog.appendStream(Ingest.prices(raw("prices")), logs("prices"), s"$ckpt/prices"),
    "append" -> TableLog.appendStream(Ingest.trades(raw("trades")), logs("trades"), s"$ckpt/trades"))
  private var tails: Seq[(String, StreamingQuery)] = Nil

  def queries: Seq[(String, StreamingQuery)] = appends ++ tails

  val topics: Set[String] = Set("prices", "trades")

  /** The `graftlog` source reads a log's schema when it starts, so the
    * tails start once the first step has been committed.
    */
  private def startTails(): Unit = tails = logs.toSeq.sortBy(_._1).map { case (t, path) =>
    val n = tailed(t)
    "tail" -> spark.readStream.format("graftlog").load(path)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$ckpt/tail_$t")
      .foreachBatch { (b: DataFrame, _: Long) => n.addAndGet(b.count()); () }
      .start()
  }

  def awaitCommit(): Unit = {
    appends.foreach(_._2.processAllAvailable())
    if (tails.isEmpty) startTails()
    tails.foreach(_._2.processAllAvailable())
  }
}
