package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** The producers' send loop (SURVEY §2 W8 — producer.py:91-103,
  * producer_da_rt.py:85-102): publish a generated tape as wire frames, one
  * topic each for prices / trades / dayahead_prices / realtime_prices.
  *
  * `file` mode writes one newline-delimited JSON file per topic directory —
  * exactly what [[graft.streaming.IngestJobs.rawStream]]'s file source
  * replays, so generator → publisher → ingest → tables runs end-to-end with
  * no broker (IngestJobsSpec). `kafka` mode is the same frames through
  * `df.write.format("kafka")` with the reference's topic names.
  */
object TapePublisher {

  /** Topic directory layout used by file mode: `$root/<topic>/<name>.json`.
    * The frames land in a hidden (`.`-prefixed) temp file in the same
    * directory, which is then renamed over the target in one atomic step:
    * a file source lists no hidden files, so a listing taken mid-write sees
    * either no file or the whole one, never a truncated step.
    */
  def publishFile(root: String, topic: String, frames: Seq[String],
      name: String = "0000"): Unit = {
    val dir = Paths.get(root, topic)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.json.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, frames.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(s"$name.json"), StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    ()
  }

  /** The exact writer option map `publishKafka` uses — split out so the sink
    * wiring is assertable without a broker/connector (IngestJobsSpec), same
    * rationale as [[graft.streaming.IngestJobs.kafkaSourceOptions]].
    */
  def kafkaSinkOptions(broker: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> broker,
    "topic" -> topic)

  /** producer.py's `acks=all` durability is the Kafka default for the Spark
    * writer's idempotent producer; retries are handled by the data source.
    */
  def publishKafka(spark: SparkSession, broker: String, topic: String,
      frames: Seq[String]): Unit = {
    import spark.implicits._
    frames.toDF("value")
      .write.format("kafka")
      .options(kafkaSinkOptions(broker, topic))
      .save()
  }

  /** Publish a full market + LMP tape under the reference topic names. */
  def publishAllFile(root: String, tape: MarketGen.MarketTape,
      lmp: MarketGen.LmpTape): Unit = {
    publishFile(root, "prices", tape.prices.map(MarketGen.priceJson))
    publishFile(root, "trades", tape.trades.map(MarketGen.tradeJson))
    publishFile(root, "dayahead_prices", lmp.da.map(MarketGen.daJson))
    publishFile(root, "realtime_prices", lmp.rt.map(MarketGen.rtJson))
  }
}
