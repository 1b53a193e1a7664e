package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scd

/** Planted-case SCD2 test: runs collapse to their first observation,
  * intervals chain, the last value stays open.
  */
class ScdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("runs collapse, intervals chain, last value stays open") {
    import spark.implicits._
    val updates = Seq(
      // key 1: A A B A — runs (A@1, B@3, A@4); repeated A@2 collapses
      (1L, "A", ts(1), 10L), (1L, "A", ts(2), 11L),
      (1L, "B", ts(3), 12L), (1L, "A", ts(4), 13L),
      // key 2: single observation stays open
      (2L, "X", ts(1), 20L),
      // key 2 decoy out-of-order insert: same ts as above, later seq, same
      // value -> collapses into the run
      (2L, "X", ts(1), 21L)
    ).toDF("key", "attr", "ts", "seq")
    val out = Scd.scd2(updates).orderBy("key", "valid_from_seq").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("attr"),
        r.getAs[Long]("valid_from_seq"),
        Option(r.getAs[Timestamp]("valid_to_ts")),
        r.getAs[Boolean]("is_current")))
    assert(out.toSeq == Seq(
      (1L, "A", 10L, Some(ts(3)), false),
      (1L, "B", 12L, Some(ts(4)), false),
      (1L, "A", 13L, None, true),
      (2L, "X", 20L, None, true)))
  }

  test("streaming SCD2 reconstructs the batch table across state cuts") {
    import spark.implicits._
    // 3 micro-batches over 6 updates: key 1's B-run OPENS in batch 1 and
    // CLOSES in batch 3 — the closed emission must carry state across cuts
    val tape = Seq(
      graft.streaming.KeyedUpdate(1L, "A", ts(1), 10L),
      graft.streaming.KeyedUpdate(1L, "B", ts(2), 11L),
      graft.streaming.KeyedUpdate(2L, "X", ts(2), 20L),
      graft.streaming.KeyedUpdate(1L, "B", ts(3), 12L),
      graft.streaming.KeyedUpdate(2L, "X", ts(4), 21L),
      graft.streaming.KeyedUpdate(1L, "C", ts(5), 13L))
    val raw = graft.streaming.MemoryReplay.replay(spark, tape, nBatches = 3,
        mode = org.apache.spark.sql.streaming.OutputMode.Update())(
        graft.streaming.StreamingOps.scd2Stream(_))
    val got = raw.groupBy(col("key"), col("valid_from_seq"))
      .agg(max_by(struct(col("attr"), col("valid_from_ts"), col("valid_to_ts"),
          col("is_current")), struct((!col("is_current")).as("closed"))).as("r"))
      .select(col("key"), col("r.attr").as("attr"),
        col("r.valid_from_ts").as("valid_from_ts"), col("valid_from_seq"),
        col("r.valid_to_ts").as("valid_to_ts"), col("r.is_current").as("is_current"))
      .orderBy("key", "valid_from_seq").collect().toSeq.map(_.toSeq)
    val want = Scd.scd2(tape.toDF("key", "attr", "ts", "seq")
        .select(col("key"), col("attr"), col("ts"), col("seq")))
      .orderBy("key", "valid_from_seq").collect().toSeq.map(_.toSeq)
    assert(got == want)
    // the closed B-interval was emitted exactly once, despite spanning cuts
    val closedB = raw.filter(col("attr") === "B" && !col("is_current")).count()
    assert(closedB == 1L)
  }

  test("plan runs one non-gate exchange: the filter preserves the window partitioning") {
    // key = id % 3 so Range's order-aligned partitioning can't satisfy the
    // window distribution by accident — the exchange must be real
    val df = Scd.scd2(spark.range(10).selectExpr("id % 3 as key",
      "'v' as attr", "timestamp'2024-01-01' as ts", "id as seq"))
    // formatted explain expands the AQE-wrapped tree (the `Probe plan` recipe);
    // count the op-list entries, not the tree glyphs, to avoid double counts
    val exchanges = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1,
      s"scd2 itself must plan exactly one exchange, got $exchanges")
  }
}
