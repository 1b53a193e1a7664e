package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLogSource, NonAppendVersionException, TableLog}
import graft.streaming.MemoryReplay

/** Round-15 `format("graftlog")` relation + streaming source: one
  * manifest-fed relation per snapshot (the union-per-partition plan and the
  * driver-side MemoryStream bridge are retired), automatic partition + stat
  * pruning inside a plain .filter(), versions-as-offsets micro-batches that
  * never touch the driver, restart/resume, and the rewrite policies. The
  * SQL-visible semantics are the q216/q219 oracle gates; these specs pin
  * the plan shapes and the protocol behaviors SQL cannot see.
  */
class GraftLogSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = TestSpark.tmpDir(tag)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("batch relation: one scan (no union), typed partition column, time travel, evolution") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = tmp("glbatch")
    TableLog.overwrite(
      docs.repartitionByRange(4, col("n_chars")), root, Seq("source"), Seq("n_chars"))
    TableLog.append(docs.limit(50)
      .withColumn("extra", col("doc_id") * 2), root) // v2: additive column
    val head = spark.read.format("graftlog").load(root)
    // ONE relation — no union branch per partition value
    assert(head.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "partitioned graftlog read must not plan a union")
    assert(head.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }.size == 1)
    // typed partition column + evolution ≡ the library read
    val viaLib = TableLog.read(spark, root)
    assert(head.schema == viaLib.schema)
    assert(head.collect().map(_.toString).sorted
      .sameElements(viaLib.collect().map(_.toString).sorted))
    // time travel via option
    val v1 = spark.read.format("graftlog").option("version", "1").load(root)
    assert(v1.columns.toSeq == Seq("doc_id", "source", "n_chars"))
    assert(v1.count() == docs.count())
  }

  test("automatic pruning: partition filter and stat filter each shrink the planned files") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = tmp("glprune")
    TableLog.overwrite(
      docs.repartitionByRange(4, col("n_chars")), root, Seq("source"), Seq("n_chars"))
    val base = spark.read.format("graftlog").load(root)
    val all = PlannedFiles(base)
    val partPruned = PlannedFiles(base.filter(col("source") === "src3"))
    val statPruned = PlannedFiles(
      base.filter(col("n_chars").between(150L, 300L)))
    val both = PlannedFiles(base.filter(col("source") === "src3" &&
      col("n_chars").between(150L, 300L)))
    assert(partPruned < all, s"partition pruning must engage: $partPruned / $all")
    assert(statPruned < all, s"stat skipping must engage: $statPruned / $all")
    assert(both <= math.min(partPruned, statPruned),
      s"composed pruning must be at least as tight: $both vs $partPruned/$statPruned")
    // soundness: pruning invisible to semantics
    val want = docs.filter(col("source") === "src3" &&
      col("n_chars").between(150L, 300L)).collect().map(_.toString).sorted
    val got = base.filter(col("source") === "src3" &&
      col("n_chars").between(150L, 300L))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(_.toString).sorted
    assert(want.nonEmpty && got.sameElements(want))
  }

  test("typed stats: timestamp / double / string filters each shrink the planned files") {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        col("o_orderpriority"))
    val root = tmp("gltyped")
    TableLog.overwrite(
      orders.repartitionByRange(8, col("o_orderdate")),
      root, statCols = Seq("o_orderdate", "o_totalprice", "o_orderpriority"))
    // the manifest carries typed tokens for all three kinds
    val es = TableLog.manifestEntries(spark, root)
    assert(es.forall(e => e.tstats.get("o_orderdate").exists(_._1 == "t") &&
      e.tstats.get("o_totalprice").exists(_._1 == "d") &&
      e.tstats.get("o_orderpriority").exists(_._1 == "s")),
      s"typed stats must ride in the manifest: ${es.head.tstats}")
    val base = spark.read.format("graftlog").load(root)
    val all = PlannedFiles(base)
    // timestamp range: the table is ts-clustered, so the window prunes hard
    val tsPruned = PlannedFiles(base.filter(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz")))
    assert(tsPruned < all, s"timestamp-range skipping must engage: $tsPruned / $all")
    // a range OUTSIDE the data prunes everything
    assert(PlannedFiles(base.filter(
      col("o_orderdate") >= lit("2050-01-01").cast("timestamp_ntz"))) == 0)
    assert(PlannedFiles(base.filter(col("o_totalprice") > 1e12)) == 0,
      "double stats must skip an impossible threshold")
    assert(PlannedFiles(base.filter(col("o_orderpriority") > "9")) == 0,
      "string stats must skip an impossible range")
    // soundness: ts-window read ≡ plain derivation
    val want = orders.filter(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .collect().map(_.toString).sorted
    val got = base.filter(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .collect().map(_.toString).sorted
    assert(want.nonEmpty && got.sameElements(want))
    // typed triage makes a TIME-RANGE DELETE surgical: files provably
    // outside the window are kept by reference (entry identity)
    val before = TableLog.manifestEntries(spark, root)
    TableLog.delete(spark, root,
      col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz"))
    val after = TableLog.manifestEntries(spark, root)
    val keptByRef = before.count(after.contains)
    assert(keptByRef > 0 && keptByRef < before.size,
      s"typed triage must keep provably-clean files by reference: " +
        s"$keptByRef of ${before.size}")
    val wantDel = orders.filter(
      !(col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz")))
      .collect().map(_.toString).sorted
    assert(TableLog.read(spark, root).collect().map(_.toString).sorted
      .sameElements(wantDel))
  }

  test("typed double stats canonicalize -0.0: >= 0.0 never prunes or spares matching rows") {
    import spark.implicits._
    val root = tmp("glnegzero")
    // file A holds only -0.0 values, file B only 5.0 — range clustering
    // puts them in separate files with disjoint stat ranges
    val df = ((1L to 50L).map(i => (i, -0.0)) ++
      (51L to 100L).map(i => (i, 5.0))).toDF("k", "v")
      .repartitionByRange(2, col("v"))
    TableLog.overwrite(df, root, statCols = Seq("v"))
    // SQL semantics: -0.0 >= 0.0 is TRUE — OUR stat layer must not prune
    // file A (canonicalized stats): both files stay in the plan
    val base = spark.read.format("graftlog").load(root)
    assert(PlannedFiles(base.filter(col("v") >= 0.0)) == 2,
      "manifest stat skipping must not prune the -0.0 file")
    // NOTE the residual: parquet's OWN row-group filter drops the -0.0
    // rows under pushdown — verified identical on a vanilla
    // spark.read.parquet (upstream comparator quirk, Double.compare vs
    // primitive >=). With pushdown off, the full 100 come back — proving
    // the loss is not in the manifest layer.
    val prev = spark.conf.get("spark.sql.parquet.filterPushdown")
    try {
      spark.conf.set("spark.sql.parquet.filterPushdown", "false")
      val got = spark.read.format("graftlog").load(root)
        .filter(col("v") >= 0.0).count()
      assert(got == 100L,
        s"-0.0 rows satisfy >= 0.0 and must survive our layers: $got")
    } finally spark.conf.set("spark.sql.parquet.filterPushdown", prev)
    // and the delete triage must not keep A by reference either
    TableLog.delete(spark, root, col("v") >= 0.0)
    assert(TableLog.read(spark, root).count() == 0L,
      "delete(v >= 0.0) must remove the -0.0 rows")
  }

  test("DV snapshot: inline-eligible format read stays NATIVE; over-cap falls back exact") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = tmp("gldv")
    val df = (1L to 100L).map(i => (i, i * 10)).toDF("k", "v")
      .repartitionByRange(4, col("v"))
    TableLog.overwrite(df, root, statCols = Seq("v"))
    TableLog.deleteVectors(spark, root, col("v") <= 300L)
    val got = spark.read.format("graftlog").load(root)
    // inline-eligible vectors: ONE native file scan with the run filter
    // riding the scan stage, no join, codegen preserved
    assert(got.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }.size == 1,
      s"inline-eligible DV read must plan the native file scan:\n" +
        got.queryExecution.sparkPlan)
    assert(got.queryExecution.sparkPlan.collect {
      case j: BaseJoinExec => j }.isEmpty)
    assert(got.select("k").as[Long].collect().sorted.toSeq == (31L to 100L))
    assert(rows(got) == rows(TableLog.read(spark, root)))
    // filter + projection still exact through the injected run filter,
    // and manifest-stat skipping still engages on the same scan
    assert(got.filter(col("v") > 900L).select("k").as[Long].collect()
      .sorted.toSeq == (91L to 100L))
    // over-cap vectors: the same native relation, expanded into the
    // anti-join against the sidecars — still a file scan, exact rows
    spark.conf.set(TableLog.DvInlineMaxPositionsKey, "1")
    try {
      val fb = spark.read.format("graftlog").load(root)
      assert(fb.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f }.nonEmpty &&
        fb.queryExecution.sparkPlan.collect {
          case j: BaseJoinExec if j.joinType == LeftAnti => j }.size == 1,
        "over-cap DV read must plan the file scan anti-joined with the " +
          "sidecars:\n" + fb.queryExecution.sparkPlan)
      assert(fb.select("k").as[Long].collect().sorted.toSeq == (31L to 100L))
      assert(rows(fb) == rows(TableLog.read(spark, root)))
    } finally spark.conf.unset(TableLog.DvInlineMaxPositionsKey)
    // a compaction materializes the vectors: plain native relation returns
    TableLog.compact(spark, root, targetBytes = 1L << 30)
    val after = spark.read.format("graftlog").load(root)
    assert(after.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }.size == 1,
      "DV-free snapshot must plan the native file relation")
    assert(after.select("k").as[Long].collect().sorted.toSeq == (31L to 100L))
  }

  test("DV representations: inline run filter ≡ anti-join, zero-shuffle inline plan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = tmp("gldvrep")
    val df = (1L to 5000L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(8, col("v"))
    TableLog.overwrite(df, root, statCols = Seq("v"))
    TableLog.deleteVectors(spark, root, col("v").between(100L, 900L))
    TableLog.deleteVectors(spark, root, col("v") % 13 === 0) // stacked
    val want = (1L to 5000L).filterNot(v => (v >= 100 && v <= 900) || v % 13 == 0)
    // pre-AQE physical plan: the adaptive wrapper hides its children from
    // a plain collect, and the join-vs-filter shape is decided before AQE
    def joins(dfr: org.apache.spark.sql.DataFrame) =
      dfr.queryExecution.sparkPlan.collect { case j: BaseJoinExec => j }
    // inline (default): the dead rows go through the run-set filter — the
    // plan has NO join, and the runs coalesce the contiguous range
    val inline = TableLog.read(spark, root)
    assert(joins(inline).isEmpty,
      s"bounded DV sets must apply as a scan-side filter, not a join:\n" +
        inline.queryExecution.executedPlan)
    assert(inline.select("k").as[Long].collect().sorted.toSeq == want)
    // forced anti-join fallback: byte-identical result
    spark.conf.set(TableLog.DvInlineMaxPositionsKey, "0")
    try {
      val joined = TableLog.read(spark, root)
      assert(joins(joined).nonEmpty, "fallback must be the anti-join")
      assert(joined.select("k").as[Long].collect().sorted.toSeq == want)
    } finally spark.conf.unset(TableLog.DvInlineMaxPositionsKey)
    // both representations stay correct through a later rewrite
    TableLog.compact(spark, root, targetBytes = 1L << 30)
    assert(TableLog.read(spark, root).select("k").as[Long].collect()
      .sorted.toSeq == want)
  }

  test("streaming: one version per micro-batch, native per-batch scans, no driver rows") {
    import spark.implicits._
    val root = tmp("glstream")
    val mk = (lo: Long, hi: Long) => (lo to hi).map(i => (i, s"c${i % 7}"))
      .toDF("k", "c")
    TableLog.overwrite(mk(1L, 40L), root)            // v1
    TableLog.appendBatch(mk(41L, 60L), 1L, root)     // v2
    TableLog.appendBatch(mk(61L, 90L), 2L, root)     // v3
    // the source's batch plan: streaming-flagged file relation, no local rows
    val src = new GraftLogSource(spark, root, None, Map.empty)
    val b1 = src.getBatch(None,
      new org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L))
    assert(b1.isStreaming, "getBatch must return a streaming-flagged frame")
    val leaves = b1.queryExecution.logical.collectLeaves()
    assert(leaves.forall {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case _ => false
    }, s"a version batch must plan as a file relation, got:\n${b1.queryExecution.logical}")
    // end-to-end: each version is exactly one micro-batch, in commit order
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[Long])]()
    val q = spark.readStream.format("graftlog").load(root)
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        batches.add((id, b.select("k").as[Long](
          org.apache.spark.sql.Encoders.scalaLong).collect().toSet))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.toArray(Array.empty[(Long, Set[Long])]).sortBy(_._1)
    assert(got.map(_._2) === Array((1L to 40L).toSet, (41L to 60L).toSet,
      (61L to 90L).toSet),
      s"one version per micro-batch in commit order, got ${got.toSeq.map(_._2.size)}")
  }

  /** Micro-batches a `graftlog` tail of `root` delivers until it is
    * caught up, as key sets in batch order; empty batches are dropped.
    * Rows land in `seen`, so a caller can read what arrived before a
    * failure.
    */
  private def tailKeys(root: String, checkpoint: Option[String],
      opts: (String, String)*)(
      seen: java.util.concurrent.ConcurrentLinkedQueue[Set[Long]] =
        new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]())
      : Seq[Set[Long]] = {
    val w = spark.readStream.format("graftlog").options(opts.toMap).load(root)
      .writeStream.outputMode("append")
    checkpoint.foreach(w.option("checkpointLocation", _))
    val q = w.foreachBatch { (b: DataFrame, _: Long) =>
      seen.add(b.select("k").as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect().toSet)
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    seen.toArray(Array.empty[Set[Long]]).toSeq.filter(_.nonEmpty)
  }

  test("streaming: restart resumes from the checkpoint, delivering only new versions") {
    import spark.implicits._
    val root = tmp("glresume")
    val cp = Some(tmp("glresume_cp"))
    TableLog.overwrite((1L to 10L).map(i => (i, i)).toDF("k", "v"), root) // v1
    TableLog.append((11L to 20L).map(i => (i, i)).toDF("k", "v"), root)  // v2
    assert(tailKeys(root, cp)().flatten.toSet == (1L to 20L).toSet)
    assert(tailKeys(root, cp)().isEmpty,
      "a restart with no new version must deliver nothing")
    TableLog.append((21L to 30L).map(i => (i, i)).toDF("k", "v"), root)  // v3
    val second = tailKeys(root, cp)()
    assert(second == Seq((21L to 30L).toSet),
      s"restart must deliver ONLY the new version, got $second")
    // a persisted version is a position too: a fresh tail started after
    // v2 delivers exactly v3
    assert(tailKeys(root, None, "startingVersion" -> "2")() ==
      Seq((21L to 30L).toSet), "startingVersion must resume after v2")
    // state carries across version batches: v4 re-appends v1's content
    // (v = 1), so the dedup keep stream sees it as a dup, not a fresh keep
    TableLog.append(Seq((31L, 1L)).toDF("k", "v"), root)                 // v4
    val kept = MemoryReplay.drainTape(spark, root)(df =>
        graft.streaming.CurationStream.exactKeepStream(
          df.select(col("k").as("doc_id"), col("v").cast("string").as("c")),
          "doc_id", "c"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    assert(kept.toSeq == (1L to 30L).map(_ -> true) :+ (31L -> false),
      s"state must carry across version batches: ${kept.toSeq}")
  }

  test("streaming rewrite policies: fail throws typed; skip skips; deliverAdds redelivers") {
    import spark.implicits._
    val root = tmp("glpolicy")
    TableLog.overwrite((1L to 20L).map(i => (i, i)).toDF("k", "v"), root) // v1
    TableLog.delete(spark, root, col("k") <= 5L)                          // v2: rewrite
    TableLog.append(Seq((21L, 21L)).toDF("k", "v"), root)                 // v3
    def collectWith(policy: String, from: Long = 0L): Seq[Seq[Long]] =
      tailKeys(root, None, "onRewrite" -> policy,
        "startingVersion" -> from.toString)().map(_.toSeq.sorted)
    // fail: the rewrite version kills the query with the typed error, after
    // the appends before it were delivered
    val cp = Some(tmp("glpolicy_cp"))
    val before = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      tailKeys(root, cp, "onRewrite" -> "fail")(before)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(ex).exists(_.isInstanceOf[NonAppendVersionException]),
      s"fail policy must surface the typed error, got $ex")
    assert(before.toArray(Array.empty[Set[Long]]).toSeq.filter(_.nonEmpty) ==
      Seq((1L to 20L).toSet), "the append before the rewrite is delivered")
    // the refused rewrite did not advance the offset: restarting the same
    // checkpoint under deliverAdds delivers v2's adds, then v3
    assert(tailKeys(root, cp, "onRewrite" -> "deliverAdds")()
      .map(_.toSeq.sorted) == Seq((6L to 20L).toSeq, Seq(21L)))
    // skip: v1 and v3 arrive, the rewrite delivers nothing
    assert(collectWith("skip") == Seq((1L to 20L).toSeq, Seq(21L)))
    assert(collectWith("skip", from = 1L) == Seq(Seq(21L)))
    // deliverAdds: the rewrite's re-added survivors are redelivered
    // (at-least-once, Delta's ignoreChanges contract)
    assert(collectWith("deliverAdds") ==
      Seq((1L to 20L).toSeq, (6L to 20L).toSeq, Seq(21L)))
    assert(collectWith("deliverAdds", from = 1L) ==
      Seq((6L to 20L).toSeq, Seq(21L)))
  }

  test("DV relation is snapshot-pinned: later commits are invisible to a loaded frame") {
    import spark.implicits._
    val root = tmp("gldvpin")
    TableLog.overwrite((1L to 50L).toDF("k"), root)
    TableLog.deleteVectors(spark, root, col("k") > 40L)
    // force the ANTI-JOIN expansion: every action re-plans the read from
    // the relation's marker, which must pin the entries resolved AT LOAD,
    // never re-resolve the head
    spark.conf.set(TableLog.DvInlineMaxPositionsKey, "1")
    try {
      val pinned = spark.read.format("graftlog").load(root)
      assert(pinned.count() == 40L)
      TableLog.append((100L to 110L).toDF("k"), root)
      assert(pinned.select("k").as[Long].collect().sorted.toSeq ==
        (1L to 40L).toSeq,
        "a loaded DataFrame must keep reading the snapshot it was planned " +
          "against after a concurrent append")
      // a self-join over the pinned frame sees ONE version on both sides,
      // each side its own expansion with its own attribute ids
      assert(pinned.as("a").join(pinned.as("b"), "k").count() == 40L)
      // a fresh load sees the new head
      assert(spark.read.format("graftlog").load(root).count() == 51L)
    } finally spark.conf.unset(TableLog.DvInlineMaxPositionsKey)
  }

  test("DV inline decision caps on POSITION count: dense sidecars fall back to the anti-join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = tmp("gldvcap")
    val df = (1L to 4000L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(4, col("v"))
    TableLog.overwrite(df, root, statCols = Seq("v"))
    // scattered delete: ~1300 positions, tiny sidecar bytes
    TableLog.deleteVectors(spark, root, col("v") % 3 === 0)
    val want = (1L to 4000L).filterNot(_ % 3 == 0)
    def joins(dfr: DataFrame) =
      dfr.queryExecution.sparkPlan.collect { case j: BaseJoinExec => j }
    // under the default caps the sidecar is inline-eligible
    assert(joins(TableLog.read(spark, root)).isEmpty)
    // a position cap below the actual count forces the anti-join, however
    // few bytes the sidecar takes — the RLE-density hazard
    spark.conf.set(TableLog.DvInlineMaxPositionsKey, "100")
    try {
      val fallback = TableLog.read(spark, root)
      assert(joins(fallback).nonEmpty,
        "a sidecar above the position cap must apply as the anti-join")
      assert(fallback.select("k").as[Long].collect().sorted.toSeq == want)
    } finally spark.conf.unset(TableLog.DvInlineMaxPositionsKey)
  }

  test("sizeInBytes: legacy entries without recorded bytes report true size, no mis-broadcast") {
    import spark.implicits._
    val root = tmp("gllegacy")
    // stage real data files, then commit entries with bytes STRIPPED —
    // the legacy bare-manifest shape
    val staged = TableLog.writeData(
      (1L to 200000L).map(i => (i, "x" * 64)).toDF("k", "pad"), root)
    TableLog.commit(spark, root, staged.map(_.copy(bytes = None)),
      meta = Seq("op:overwrite",
        "schema:" + (1L to 1L).map(i => (i, "s")).toDF("k", "pad").schema.json,
        "partcols:"))
    val rel = graft.sources.GraftLog.batchRelation(spark, root, None)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val trueBytes = staged.map(e => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$root/${e.path}")).getLen).sum
    assert(rel.sizeInBytes == trueBytes,
      s"legacy-entry table must report true bytes: ${rel.sizeInBytes} vs $trueBytes")
    // and the planner must NOT auto-broadcast it when it exceeds the
    // threshold — under the undercount (size ~1) it always would
    assert(trueBytes > (100L << 10))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (100L << 10).toString)
    try {
      val big = spark.read.format("graftlog").load(root)
      val other = (1L to 100000L).toDF("k")
      val joined = other.join(big, "k")
      val bcasts = joined.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      val bcastsGraft = bcasts.filter(_.collectLeaves().exists {
        case f: FileSourceScanExec =>
          f.relation.location.isInstanceOf[graft.sources.GraftLogFileIndex]
        case _ => false
      })
      assert(bcastsGraft.isEmpty,
        s"an over-threshold legacy graftlog side must not be broadcast:\n" +
          joined.queryExecution.sparkPlan)
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("column mapping: rename is metadata-only, prunes via physical stats, time-travels") {
    import spark.implicits._
    val root = tmp("glrename")
    val df = (1L to 1000L).map(i => (i, i * 3)).toDF("k", "v")
      .repartitionByRange(4, col("v"))
    TableLog.overwrite(df, root, statCols = Seq("v"))                        // v1
    val filesV1 = TableLog.manifestEntries(spark, root)
    TableLog.renameColumn(spark, root, "v", "val3")                   // v2
    // METADATA-ONLY: not one data file changed
    assert(TableLog.manifestEntries(spark, root) == filesV1,
      "rename must not touch a single data file")
    // head reads under the new logical name, values intact
    val head = TableLog.read(spark, root)
    assert(head.columns.toSeq == Seq("k", "val3"))
    assert(head.filter(col("val3") === 30L).select("k").as[Long].head() == 10L)
    // data skipping still engages: the filter on the LOGICAL name pushes
    // through the alias to the physical column the stats are keyed by
    val all = PlannedFiles(head.filter(col("val3") > -1L))
    val pruned = PlannedFiles(head.filter(col("val3") > 2500L))
    assert(pruned < all && pruned > 0,
      s"stats keyed by physical name must keep pruning: $pruned / $all")
    // time travel reads v1 under ITS OWN mapping (the old name)
    assert(TableLog.read(spark, root, Some(1L)).columns.toSeq == Seq("k", "v"))
    // appends across the boundary: logical batch, physical files
    TableLog.append((1001L to 1010L).map(i => (i, i * 3)).toDF("k", "val3"), root) // v3
    assert(TableLog.read(spark, root).count() == 1010L)
    assert(TableLog.read(spark, root).filter(col("val3") === 3030L)
      .select("k").as[Long].head() == 1010L)
    // a format load of a mapped snapshot serves logical names through the
    // native file scan, and a filter on the logical name still prunes
    val viaFormat = spark.read.format("graftlog").load(root)
    assert(viaFormat.columns.toSeq == Seq("k", "val3"))
    assert(viaFormat.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }.size == 1)
    assert(rows(viaFormat) == rows(TableLog.read(spark, root)))
    assert(viaFormat.count() == 1010L)
    assert(PlannedFiles(viaFormat.filter(col("val3") > 2500L)) <
      PlannedFiles(viaFormat))
    // delete triage re-keys logical bounds to physical stats: files
    // provably outside the range are kept by reference
    val before = TableLog.manifestEntries(spark, root)
    TableLog.delete(spark, root, col("val3") <= 300L)                  // v4
    val after = TableLog.manifestEntries(spark, root)
    assert(before.count(after.contains) > 0,
      "triage must keep provably-clean files by reference after a rename")
    assert(TableLog.read(spark, root).agg(min(col("val3"))).head().getLong(0) == 303L)
    // restore to v1 restores the OLD name; a second rename chain works
    TableLog.restore(spark, root, 1L)                                  // v5
    assert(TableLog.read(spark, root).columns.toSeq == Seq("k", "v"))
    // guards: partition columns and collisions refuse
    intercept[IllegalArgumentException] {
      TableLog.renameColumn(spark, root, "missing", "x")
    }
    TableLog.renameColumn(spark, root, "v", "v2col")                   // v6
    TableLog.renameColumn(spark, root, "v2col", "v3col")               // v7 chain
    assert(TableLog.read(spark, root).columns.toSeq == Seq("k", "v3col"))
    intercept[graft.sources.TableLog.SchemaEvolutionException] {
      // adding a column named like the retired physical name is ambiguous
      TableLog.append((1L to 2L).map(i => (i, i, i)).toDF("k", "v3col", "v"), root)
    }
  }

  test("string stats on non-UTF-8 values: no stat recorded, skipping stays sound") {
    import spark.implicits._
    val root = tmp("glbinstr")
    // one file whose max string is INVALID UTF-8 (0xFF bytes — above any
    // valid sequence), one clean file; binary→string cast injects the raw
    // bytes without validation, exactly the binary-ish strings at issue
    val dirty = Seq(1L).toDF("k")
      .withColumn("s", lit(Array[Byte](0xFF.toByte, 0xFF.toByte)).cast("string"))
    val clean = Seq(2L).toDF("k").withColumn("s", lit("b"))
    TableLog.overwrite(dirty.union(clean)
      .repartitionByRange(2, col("k")), root, statCols = Seq("s"))
    val es = TableLog.manifestEntries(spark, root)
    // the dirty file records NO string stat (its bytes don't round-trip
    // through java.lang.String); the clean file records one
    assert(es.count(_.tstats.contains("s")) == 1,
      s"non-round-tripping strings must drop the stat: ${es.map(_.tstats)}")
    // soundness: a predicate ABOVE the U+FFFD image still reads the dirty
    // file — under the damaged stat (max collapsed to EF BF BD) this
    // filter would have skipped it and lost the row
    val base = spark.read.format("graftlog").load(root)
    val got = base.filter(col("s") > lit("�")).count()
    assert(got == 1L,
      "a filter above the replacement-char image must still see the raw-byte row")
  }
}
