package graft.tools

/** Full streaming-gate cycle under the RocksDB state-store provider — the
  * deploy-default evidence run (VERDICT r11 Next #4): every MemoryReplay-
  * driven gate query executes twice at the given sf, once under the default
  * heap provider and once under
  * `RocksDBStateStoreProvider`, and the collected outputs must be
  * IDENTICAL row-for-row. The provider is a pure storage swap — any
  * divergence is a state-serialization bug, and at 100 TB the RocksDB
  * provider is the default for the content-growing state families
  * (dedup fingerprints, band indexes: millions of live buckets sink the
  * heap provider first — BASELINE r11's A/B and TTL rows).
  *
  * The provider conf is read at query START, so toggling the session conf
  * between runs is the exact mechanism a deploy uses. Exit code 1 on any
  * mismatch.
  *
  * Usage: RocksGate [sfDir]
  */
object RocksGate {

  /** Every SparkEntry gate whose query drives a streaming replay. */
  val streamingGates: Seq[String] = Seq(
    "q55_streaming_pnl", "q56_streaming_sma", "q63_streaming_window",
    "q68_streaming_session", "q70_streaming_sliding",
    "q71_streaming_interval_join", "q75_streaming_neardup",
    "q80_streaming_dedup", "q85_streaming_latest", "q105_streaming_ewma",
    "q110_streaming_bars", "q112_streaming_scd2", "q122_streaming_anomaly",
    "q162_streaming_heavy_hitters", "q183_streaming_gaps",
    "q186_streaming_drawdown", "q192_streaming_neardup_ttl",
    "q193_streaming_dedup_ttl", "q195_streaming_curation",
    "q196_streaming_curation_ttl", "q204_streaming_media_dedup",
    "q205_streaming_media_dedup_ttl", "q207_streaming_funnel_media",
    "q210_streaming_mixed_media", "q219_log_tail_funnel")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(16)
    spark.sparkContext.setLogLevel("ERROR")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    var failed = 0
    streamingGates.foreach { q =>
      def run(): (Array[String], Double) = {
        val t0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(q)(spark, sfDir)
          .collect().map(_.toString).sorted
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      val (heap, tHeap) = run()
      spark.conf.set(provKey, rocks)
      val (rdb, tRocks) =
        try run() finally spark.conf.unset(provKey)
      val ok = heap.sameElements(rdb)
      if (!ok) failed += 1
      println(f"[rocksgate] $q%-32s ${if (ok) "MATCH" else "DIVERGE"}%-8s " +
        f"rows=${heap.length}%6d heap=${tHeap}%6.2fs rocksdb=${tRocks}%6.2fs")
    }
    println(s"[rocksgate] ${streamingGates.size - failed}/${streamingGates.size} identical under RocksDB")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
