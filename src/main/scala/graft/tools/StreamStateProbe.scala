package graft.tools

import org.apache.spark.sql.SparkSession

import graft.streaming.MemoryReplay

/** Streaming state-store audit (VERDICT r8 Next #7): run every streaming
  * gate query over its tape and record the state operators' final
  * (rows, bytes) from the last `StreamingQueryProgress` — the artifact
  * that says which families carry KEY-BOUNDED state (safe at any tape
  * length) versus CONTENT-GROWING state (the 100 TB watch items: dedup
  * fingerprints, band indexes) at the end of the replay. Per-family rows
  * land in BASELINE.md.
  *
  * Usage: StreamStateProbe [sfDir] — defaults to sf0.1.
  */
object StreamStateProbe {

  /** One stateful operator's (operatorName, numRowsTotal, memoryUsedBytes)
    * from a query's last `StreamingQueryProgress`.
    */
  type OpState = (String, Long, Long)

  /** Run `body`, and return with its result the state-store footprint of
    * every streaming query it started, in start order: each query's
    * stateful operators from its last progress event. A listener is
    * registered for the length of `body` only. After `body`, the call waits
    * for each started query's terminated event (the listener bus delivers a
    * query's progress events before it), then removes the listener.
    */
  def stateOf[T](spark: SparkSession)(body: => T): (T, Seq[Seq[OpState]]) = {
    import java.util.UUID
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val started = scala.collection.mutable.ArrayBuffer.empty[UUID]
    val last = scala.collection.mutable.Map.empty[UUID, Seq[OpState]]
    val ended = scala.collection.mutable.Set.empty[UUID]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        synchronized { started += e.runId; () }
      override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
        last(e.progress.runId) = e.progress.stateOperators.toSeq
          .map(so => (so.operatorName, so.numRowsTotal, so.memoryUsedBytes))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        synchronized { ended += e.runId; notifyAll() }
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      listener.synchronized {
        val deadline = System.currentTimeMillis() + 120000L
        while (!started.forall(ended)) {
          val left = deadline - System.currentTimeMillis()
          if (left <= 0) throw new IllegalStateException(
            s"streaming queries never terminated: ${started.filterNot(ended)}")
          listener.wait(left)
        }
        (out, started.toSeq.map(id => last.getOrElse(id, Nil)))
      }
    } finally spark.streams.removeListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    println(f"[state-probe] sf=$sfDir")
    if (args.contains("--sketch-only")) {
      sketchTtlGrowthProbe(spark, sfDir); spark.stop(); return
    }
    RocksGate.streamingGates.foreach { name =>
      val (n, perQuery) = stateOf(spark) {
        try graft.SparkEntry.queries(name)(spark, sfDir).count()
        catch { case e: Throwable =>
          println(s"[state-probe] $name FAILED: ${e.getMessage}"); -1L }
      }
      perQuery.flatten match {
        case Seq() =>
          println(f"[state-probe] $name%-32s out=$n%7d  (stateless or no progress captured)")
        case ops => ops.foreach { case (op, rows, bytes) =>
          println(f"[state-probe] $name%-32s out=$n%7d  state: $op rows=$rows bytes=$bytes")
        }
      }
    }
    ttlGrowthProbe(spark, sfDir)
    sketchTtlGrowthProbe(spark, sfDir)
    intervalJoinLawProbe(spark, sfDir)
    rocksDbAbProbe(spark, sfDir)
    spark.stop()
  }

  /** Rows and bytes of every stateful operator `body`'s replays ran. */
  private def fmt(s: Seq[Seq[OpState]]): String =
    s.flatten.map { case (_, r, b) => s"rows=$r bytes=$b" }.mkString("; ")

  /** The media sketch index's flat-state law (the q204/q205 pair, same
    * shape as [[ttlGrowthProbe]]'s band-index rows): cycle the corpus with
    * FRESH sketches each cycle (pattern derived from a cycle-offset id, so
    * nearly every chunk bucket keeps admitting new members) — the TTL'd
    * index must hold rows ≈ 4 × in-window members across cycles while the
    * unbounded index grows linearly with distinct sketches.
    */
  def sketchTtlGrowthProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val ids = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val n = ids.size
    val ttlMs = (n / 4).toLong * 1000L
    def tape(cycles: Int): Seq[(Long, java.sql.Timestamp, Long)] =
      (0 until cycles).flatMap { c =>
        ids.zipWithIndex.map { case (id, i) =>
          (id + c.toLong * 100000000L,
            new java.sql.Timestamp((c.toLong * n + i + 1) * 1000L),
            graft.operators.Multimodal.dHashPatternOf(id + c.toLong * 7919L * n))
        }
      }
    Seq(3, 6).foreach { cycles =>
      val tp = tape(cycles)
      val (_, ttlStats) = stateOf(spark) {
        MemoryReplay.replay(spark, tp, nBatches = 4 * cycles)(ds =>
          graft.streaming.StreamingOps.sketchNearDupStreamTtl(
            ds.toDF("doc_id", "ts", "sk"), "doc_id", "ts", "sk",
            ttlMs = ttlMs)).count()
      }
      val (_, unbStats) = stateOf(spark) {
        MemoryReplay.replay(spark, tp.map(e => (e._1, e._3)),
          nBatches = 4 * cycles)(ds =>
          graft.streaming.StreamingOps.sketchNearDupStream(
            ds.toDF("doc_id", "sk"), "doc_id", "sk")).count()
      }
      println(s"[state-probe] ttl-sketch-index cycles=$cycles docs=${tp.size} " +
        s"ttl=${ttlMs / 1000}s  ${fmt(ttlStats)}")
      println(s"[state-probe] unbounded-sketch cycles=$cycles docs=${tp.size} " +
        s"            ${fmt(unbStats)}")
    }
  }

  /** q71 interval-join state law (VERDICT r10 Next #3): the symmetric
    * stream-stream join's state is bounded by
    * arrival-rate × (watermark delay + lookback) — the un-watermarked
    * tail — NOT by tape length. Demonstrated two ways: (a) a watermark-
    * delay sweep over a fixed tape (state rows grow ~with the window);
    * (b) a 2×-span tape (the same events replayed again, shifted one
    * hour past the first copy's end) at a fixed delay — end-of-replay
    * state must match the 1×-span run, because the watermark has passed
    * everything in the first copy.
    */
  def intervalJoinLawProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val all = graft.operators.Pnl.eventsAsMarket(
        graft.Tables.events(spark, sfDir)).collect().toSeq
      .sortBy(e => (e.ts.getTime, e.seq))
    def run(tape: Seq[graft.operators.MarketEvent], delay: String,
        label: String): Unit = {
      val trades = tape.filter(_.kind == "trade")
      val prices = tape.filter(_.kind == "price")
      val (n, st) = stateOf(spark) {
        MemoryReplay.replay2(spark, trades, prices, nBatches = 4,
          statePartitions = 4)(
          (tl, pr) => graft.streaming.StreamingOps.intervalJoinStream(
            tl.toDF().select(col("seq").as("t_seq"), col("ts").as("t_ts"),
              col("hub")),
            pr.toDF().select(col("seq").as("p_seq"), col("ts").as("p_ts"),
              col("hub").as("p_hub"), col("price_mwh").as("p_px")),
            leftKey = "hub", rightKey = "p_hub",
            leftTs = "t_ts", rightTs = "p_ts",
            lookbackSec = 300L, watermarkDelay = delay)
            .select(col("t_seq"), col("hub"), col("p_seq"), col("p_px"))
            .as[graft.streaming.IntervalPair]).count()
      }
      println(s"[state-probe] interval-join    $label events=${tape.size} " +
        s"out=$n  state: ${fmt(st)}")
    }
    Seq("2 minutes", "10 minutes", "40 minutes").foreach { d =>
      run(all, d, f"delay=${d.split(' ')(0) + "m"}%-14s")
    }
    val span = all.last.ts.getTime - all.head.ts.getTime
    val maxSeq = all.map(_.seq).max + 1
    val shifted = all.map(e => e.copy(seq = e.seq + maxSeq,
      ts = new java.sql.Timestamp(e.ts.getTime + span + 3600000L)))
    run(all ++ shifted, "10 minutes", f"${"2x-span d=10m"}%-20s")
  }

  /** Heap vs RocksDB state-store A/B (VERDICT r10 Next #6): the q80
    * streaming-dedup tape replayed under both providers must emit the
    * IDENTICAL keeper set (the provider is a storage knob, never a
    * semantics knob), and the row reports each provider's reported state
    * memory. RocksDB is the 100 TB deploy default for the content-growing
    * families (dedup fingerprints, band indexes): its state lives
    * off-heap/on-disk, so millions of live buckets don't pressure the
    * executor heap the way the default HDFS-backed heap provider does.
    */
  def rocksDbAbProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tape = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // the provider conf is read at query start, so setting it around a
    // replay is the mechanism a deploy (and RocksGate) uses
    def underProvider(label: String, prov: Option[String])(
        run: => Seq[Long]): Seq[Long] = {
      prov.foreach(spark.conf.set(provKey, _))
      val (kept, st) = try stateOf(spark)(run)
        finally if (prov.isDefined) spark.conf.unset(provKey)
      val mem = st.flatten.map { case (_, r, b) => s"rows=$r memBytes=$b" }
      println(f"[state-probe] $label kept=${kept.size}%d  state: ${mem.mkString("; ")}")
      kept
    }
    val results = Seq(("heap", None), ("rocksdb", Some(rocks)))
      .map { case (label, prov) =>
        underProvider(f"dedup-provider   $label%-8s", prov) {
          MemoryReplay.replay(spark, tape, nBatches = 4)(ds =>
              graft.streaming.StreamingOps.exactDedupStream(
                ds.toDF("doc_id", "text"), "doc_id", "text"))
            .collect().map(_.getLong(0)).sorted.toSeq
        }
      }
    println(s"[state-probe] provider-identity heap==rocksdb: " +
      s"${results(0) == results(1)}")
    // same A/B for the TTL'd op — event-time TIMEOUTS must also behave
    // identically under RocksDB (the deploy combination: bounded state
    // in the provider built for millions of live keys)
    val n = tape.size
    val ttlMs = (n / 4).toLong * 1000L
    val ttlTape = tape.zipWithIndex.map { case ((id, text), i) =>
      (id, new java.sql.Timestamp((i + 1).toLong * 1000L), text)
    }
    val ttlResults = Seq(("heap", None), ("rocksdb", Some(rocks)))
      .map { case (label, prov) =>
        underProvider(f"ttl-provider     $label%-8s", prov) {
          MemoryReplay.replay(spark, ttlTape, nBatches = 4)(ds =>
              graft.streaming.StreamingOps.exactDedupStreamTtl(
                ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
                ttlMs = ttlMs))
            .collect().map(_.getLong(0)).sorted.toSeq
        }
      }
    println(s"[state-probe] ttl-provider-identity heap==rocksdb: " +
      s"${ttlResults(0) == ttlResults(1)}")
  }

  /** TTL bounded-state demonstration (VERDICT r9 Next #1): replay the
    * corpus CYCLED past the TTL — fresh ids each cycle, event time marching
    * on, so distinct content keeps arriving long after the window has
    * rolled over — through both band-index variants at 3 and 6 cycles. The
    * TTL'd index's state must stay FLAT cycle-over-cycle (timeout evicts
    * dormant buckets; rows ≈ buckets live in one TTL window), while the
    * unbounded variant's state grows linearly with content (the r9
    * BASELINE measurement this probe turns into a side-by-side law).
    */
  def ttlGrowthProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val n = docs.size
    val ttlMs = (n / 4).toLong * 1000L
    def tape(cycles: Int): Seq[(Long, java.sql.Timestamp, String)] =
      (0 until cycles).flatMap { c =>
        docs.zipWithIndex.map { case ((id, text), i) =>
          // salt every token per cycle: each cycle is genuinely FRESH
          // content (every shingle, hence nearly every band, is new), the
          // regime where the unbounded index must grow and the TTL'd one
          // must not
          val salted =
            if (c == 0) text
            else text.split(' ').map(w => s"$w$c").mkString(" ")
          (id + c.toLong * 100000000L,
            new java.sql.Timestamp((c.toLong * n + i + 1) * 1000L), salted)
        }
      }
    Seq(3, 6).foreach { cycles =>
      val tp = tape(cycles)
      val (_, ttlStats) = stateOf(spark) {
        MemoryReplay.replay(spark, tp, nBatches = 4 * cycles)(
          ds => graft.streaming.StreamingOps.nearDupCandidatesStreamTtl(
            ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
            ttlMs = ttlMs)).count()
      }
      val (_, unbStats) = stateOf(spark) {
        MemoryReplay.replay(spark, tp.map(e => (e._1, e._3)),
          nBatches = 4 * cycles)(
          ds => graft.streaming.StreamingOps.nearDupCandidatesStream(
            ds.toDF("doc_id", "text"), "doc_id", "text")).count()
      }
      println(s"[state-probe] ttl-band-index   cycles=$cycles docs=${tp.size} " +
        s"ttl=${ttlMs / 1000}s  ${fmt(ttlStats)}")
      println(s"[state-probe] unbounded-index  cycles=$cycles docs=${tp.size} " +
        s"            ${fmt(unbStats)}")
      // same tape through the EXACT-dedup pair (q193 vs q80): the TTL'd
      // fingerprint store must stay flat at ~rate×TTL while the unbounded
      // index grows with distinct content
      val (_, ttlDedup) = stateOf(spark) {
        MemoryReplay.replay(spark, tp, nBatches = 4 * cycles)(
          ds => graft.streaming.StreamingOps.exactDedupStreamTtl(
            ds.toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
            ttlMs = ttlMs)).count()
      }
      val (_, unbDedup) = stateOf(spark) {
        MemoryReplay.replay(spark, tp.map(e => (e._1, e._3)),
          nBatches = 4 * cycles)(
          ds => graft.streaming.StreamingOps.exactDedupStream(
            ds.toDF("doc_id", "text"), "doc_id", "text")).count()
      }
      println(s"[state-probe] ttl-exact-dedup  cycles=$cycles docs=${tp.size} " +
        s"ttl=${ttlMs / 1000}s  ${fmt(ttlDedup)}")
      println(s"[state-probe] unbounded-dedup  cycles=$cycles docs=${tp.size} " +
        s"            ${fmt(unbDedup)}")
    }
  }
}
