package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IngestJobs

/** EXECUTES the jdbc sink branch (IngestJobs.writeTable format="jdbc")
  * against embedded Derby: the real streaming foreachBatch → exactly-once
  * commit (`jdbcBatchExactlyOnce`: zero-row create, staging write, one
  * transaction moving the rows and recording the epoch), across
  * micro-batches and across a restarted stream. Postgres, the reference
  * deploy, differs in its already-exists SQLState, pinned here by a unit
  * test; the kafka SOURCE branch stays spec-pinned only (no connector
  * artifact offline).
  */
class JdbcSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("jdbc sink branch round-trips streamed prices+trades through embedded Derby") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val url = "jdbc:derby:memory:graftsmoke;create=true"
    val ckpt = TestSpark.tmpDir("jdbc")
    val pIn = MemoryStream[String]
    val tIn = MemoryStream[String]
    val qs = IngestJobs.ingestPricesAndTrades(pIn.toDF(), tIn.toDF(),
      IngestJobs.SinkConfig("jdbc", url = url), ckpt)
    try {
      // both producer ISO variants (SURVEY §1): naive micros, and +00:00
      pIn.addData(
        """{"ts":"2026-08-15T01:02:03.456789","hub":"HB_NORTH","price_mwh":42.5}""",
        """{"ts":"2026-08-15T01:02:04.456789+00:00","hub":"HB_SOUTH","price_mwh":40.25}""")
      tIn.addData(
        """{"trade_id":7,"ts":"2026-08-15T01:02:05+00:00","account":"acct1","hub":"HB_NORTH","side":"BUY","mw":5,"price_mwh":41.0}""")
      qs.foreach(_.processAllAvailable())
      // a second micro-batch must APPEND into the now-existing table
      pIn.addData(
        """{"ts":"2026-08-15T01:02:06","hub":"HB_WEST","price_mwh":39.0}""")
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
    def read(table: String) = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
    val prices = read("prices").collect()
    assert(prices.length == 3, s"expected 3 price rows, got ${prices.length}")
    assert(prices.map(_.getAs[String]("hub")).toSet ==
      Set("HB_NORTH", "HB_SOUTH", "HB_WEST"))
    val north = prices.find(_.getAs[String]("hub") == "HB_NORTH").get
    assert(north.getAs[Double]("price_mwh") == 42.5)
    // ts bound as a real TIMESTAMP (reference binds a string and lets
    // Postgres cast — we bind typed; the raw wire string rides ts_raw)
    assert(north.getAs[java.sql.Timestamp]("ts").toInstant.toString
      .startsWith("2026-08-15T01:02:03"))
    assert(north.getAs[String]("ts_raw") == "2026-08-15T01:02:03.456789")
    val trades = read("trades").collect()
    assert(trades.length == 1)
    val tr = trades.head
    assert(tr.getAs[Long]("trade_id") == 7L && tr.getAs[String]("side") == "BUY"
      && tr.getAs[Int]("mw") == 5 && tr.getAs[String]("account") == "acct1")
  }

  test("jdbc exactly-once: an epoch replayed with the same batch id is a no-op") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftxonce;create=true"
    val sink = IngestJobs.SinkConfig("jdbc", url = url)
    val b0 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
    val b1 = Seq((3L, "c", 30.0)).toDF("id", "k", "v")
    def count() = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "xo").load().count()
    // epoch 0, then the SAME epoch again — Structured Streaming's crash
    // replay re-invokes foreachBatch with the identical batch id
    IngestJobs.jdbcBatchExactlyOnce(b0, 0L, "xo", sink)
    assert(count() == 2)
    IngestJobs.jdbcBatchExactlyOnce(b0, 0L, "xo", sink)
    assert(count() == 2, "replayed committed epoch must be a no-op")
    // a NEW epoch appends; replaying IT is again a no-op
    IngestJobs.jdbcBatchExactlyOnce(b1, 1L, "xo", sink)
    IngestJobs.jdbcBatchExactlyOnce(b1, 1L, "xo", sink)
    assert(count() == 3)
    val rows = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "xo").load().collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("k"), r.getAs[Double]("v")))
      .sorted.toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // the ledger records exactly the two committed epochs (Derby
    // uppercases the raw-DDL identifiers)
    val led = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "graft_epochs").load().collect()
      .map(r => (r.getAs[String]("TBL"), r.getAs[Long]("BATCH_ID"))).sorted.toSeq
    assert(led == Seq(("xo", 0L), ("xo", 1L)))
  }

  test("jdbc exactly-once through a real restarted stream: no duplicates across recovery") {
    val url = "jdbc:derby:memory:graftxostream;create=true"
    val sink = IngestJobs.SinkConfig("jdbc", url = url)
    val ckpt = TestSpark.tmpDir("xo")
    val srcDir = TestSpark.tmpDir("xo_src")
    def write(name: String, lines: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(srcDir, name), lines)
    def stream() = IngestJobs.writeTable(
      IngestJobs.rawStream(spark, IngestJobs.SourceConfig("file", srcDir))
        .selectExpr("value AS v"),
      "events_xo", sink, ckpt)
    // run 1: one epoch lands, query stops (the crash stand-in)
    write("f1.txt", "r1\nr2\n")
    val q1 = stream()
    try q1.processAllAvailable() finally q1.stop()
    // run 2: same checkpoint, new data — the recoverable file source
    // resumes from committed offsets; old epochs must not re-land
    write("f2.txt", "r3\n")
    val q2 = stream()
    try q2.processAllAvailable() finally q2.stop()
    val vals = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "events_xo").load().collect()
      .map(_.getAs[String]("v")).sorted.toSeq
    assert(vals == Seq("r1", "r2", "r3"),
      s"exactly the three source rows, no recovery duplicates: $vals")
  }

  test("jdbc ledger create swallows only Derby's and Postgres's already-exists SQLStates") {
    def state(s: String) = new java.sql.SQLException("boom", s)
    assert(IngestJobs.alreadyExists(state("X0Y32")))  // Derby
    assert(IngestJobs.alreadyExists(state("42P07")))  // Postgres duplicate_table
    assert(!IngestJobs.alreadyExists(state("42P01"))) // Postgres undefined_table
    assert(!IngestJobs.alreadyExists(state("08006"))) // connection failure
    assert(!IngestJobs.alreadyExists(new java.sql.SQLException("no state")))
  }
}
