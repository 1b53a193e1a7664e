package graft

import org.scalatest.funsuite.AnyFunSuite

/** Same-JVM repeatability of the streaming gates: each replay runner —
  * MemoryReplay's `replay` (q55) and `replay2` (q71), a logged tape through
  * `writeTape`/`drainTape` (q195) and a `graftlog` commit-log tail (q219) —
  * runs twice in one session, as Bench's reps do. So does every table-log
  * gate (q211–q234): each rebuilds its table root at the same path on the
  * second run, the hazard a JVM-lifetime manifest cache once got wrong.
  * Both runs must return the same rows in the same order, and neither may
  * leave a memory-sink view or an active streaming query behind.
  */
class ReplayRepeatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val tableLogGates = SparkEntry.queries.keys.toSeq
    .filter(_.matches("q2(1[1-9]|2[0-9]|3[0-4])_.*")).sorted

  (Seq("q55_streaming_pnl", "q71_streaming_interval_join",
      "q195_streaming_curation") ++ tableLogGates).foreach { q =>
    test(s"$q: two runs in one session agree and leave no replay behind") {
      def run(): Seq[String] = {
        val rows = SparkEntry.queries(q)(spark, dir).collect()
          .map(_.toString).toSeq
        val views = spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith("graft_replay_"))
        assert(views.isEmpty, s"leftover memory-sink views: ${views.toSeq}")
        assert(spark.streams.active.isEmpty,
          s"active streaming queries: ${spark.streams.active.toSeq}")
        rows
      }
      val first = run()
      assert(first.nonEmpty, s"$q returned no rows")
      assert(run() == first, s"$q differs between two runs in one session")
    }
  }
}
