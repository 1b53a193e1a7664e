package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warehouse

/** Warehouse's pure-DataFrame pieces (the compaction planner, the CDC
  * merge), TableLog's commit-log maintenance (compaction, vacuum, deletes,
  * the exactly-once stream sink) and the q138/q139 layout plans.
  */
class WarehouseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("compactionPlan: keeps >= target, dense bins under 2x target, exact bin count") {
    import spark.implicits._
    val target = 2000L
    // hash-scattered sizes around the target: keeps and rewrites both hit
    val files = (0L until 500L).map(i => (i, (i * 2654435761L % 4096L) + 1L))
    val plan = Warehouse.compactionPlan(files.toDF("file_id", "bytes"),
        col("file_id"), col("bytes"), target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // every file decided once; keeps are exactly the >= target ones
    assert(plan.map(_._1).sorted.toSeq == files.map(_._1))
    val keeps = files.filter(_._2 >= target).map(_._1).toSet
    assert(keeps.nonEmpty && keeps.size < files.size,
      "fixture must have both keeps and rewrites")
    assert(plan.filter(_._3 == "keep").map(_._1).toSet == keeps)
    // rewrite bins dense from 0; no bin over 2x target
    val bins = plan.filter(_._3 == "rewrite").groupBy(_._4)
      .map { case (b, fs) => (b, fs.map(_._2).sum) }
    assert(bins.keySet == (0L until bins.size).toSet, s"bins not dense: ${bins.keySet}")
    assert(bins.values.forall(_ < 2 * target),
      s"bin over 2x target: ${bins.values.max} vs $target")
    // exact bin-count law: floor((sum - last_file_bytes)/target) + 1 — NOT
    // floor(sum/target)+1, which is off by one when sum is an exact
    // multiple of target
    val small = files.filter(_._2 < target)
    val maxExcl = small.map(_._2).sum - small.last._2
    assert(bins.size == maxExcl / target + 1)
  }

  test("compaction plan + execution over real parquet footers") {
    import graft.sources.TableLog
    import spark.implicits._
    val root = TestSpark.tmpDir("cplan")
    val docs = Tables.load(spark, dir, "documents")
    // 24 small files plus one coalesced large one appended after — the
    // mixed manifest a real micro-batch sink accumulates
    TableLog.overwrite(docs.repartition(24), root)
    TableLog.append(docs.union(docs).union(docs).coalesce(1), root)
    val before = TableLog.manifest(spark, root)
    val files = before.zipWithIndex.map { case (p, i) =>
      (i.toLong, new java.io.File(s"$root/$p").length()) }
    assert(files.length >= 25)
    val sizes = files.map(_._2)
    // target between the small-file and big-file footer sizes
    val target = sizes.max / 2
    assert(sizes.count(_ >= target) >= 1 && sizes.count(_ < target) >= 24,
      s"fixture must have both keeps and rewrites at target=$target: ${sizes.sorted}")
    val plan = Warehouse.compactionPlan(files.toDF("file_id", "bytes"),
        col("file_id"), col("bytes"), target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // plan shape on measured sizes: every file decided once; keeps are
    // exactly the >= target ones; rewrite bins dense from 0, under 2x target
    assert(plan.map(_._1).sorted.toSeq == files.map(_._1))
    assert(plan.filter(_._3 == "keep").map(_._1).toSet ==
      files.filter(_._2 >= target).map(_._1).toSet)
    val bins = plan.filter(_._3 == "rewrite").groupBy(_._4)
      .map { case (b, fs) => (b, fs.map(_._2).sum) }
    assert(bins.keySet == (0L until bins.size).toSet, s"bins not dense: ${bins.keySet}")
    assert(bins.values.forall(_ < 2 * target),
      s"bin over 2x target: ${bins.values.max} vs $target")
    // execution: TableLog.compact at the same target references exactly the
    // plan's keeps and retires every file the plan rewrites
    val want = TableLog.read(spark, root).collect().map(_.toString).sorted
    val v = TableLog.compact(spark, root, target)
    val after = TableLog.manifest(spark, root, Some(v)).toSet
    val decided = plan.map(r => before(r._1.toInt) -> r._3).toMap
    assert(decided.collect { case (p, "keep") => p }.forall(after.contains),
      "planned keeps must stay referenced")
    assert(!decided.collect { case (p, "rewrite") => p }.exists(after.contains),
      "planned rewrites must leave the head")
    assert(after.size < before.size, s"compaction must shrink: ${before.size} -> ${after.size}")
    val got = TableLog.read(spark, root).collect().map(_.toString).sorted
    assert(got.sameElements(want), "compaction must preserve data")
  }

  test("mergeUpsert: updates win per key, survivors pass through, base never shuffles") {
    import spark.implicits._
    val base = Seq((1L, "a", 10L, 1L), (2L, "a", 20L, 1L), (3L, "b", 30L, 1L))
      .toDF("k", "part", "v", "seq")
    val updates = Seq((2L, "a", 99L, 2L), (2L, "a", 98L, 3L), (4L, "b", 40L, 2L))
      .toDF("k", "part", "v", "seq")
    val merged = Warehouse.mergeUpsert(base, updates, Seq("k"), "seq")
    val got = merged.collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    // k=2: max-seq update wins (v=98, seq=3); k=4 inserted; k=1,3 survive
    assert(got.toSeq == Seq((1L, 10L, 1L), (2L, 98L, 3L), (3L, 30L, 1L),
      (4L, 40L, 2L)))
    // equals the latest-per-key window over base ∪ updates (the q208 oracle
    // identity, valid under the monotone-seq CDC contract)
    val win = graft.operators.LatestPerGroup.latestWindow(
      base.unionByName(updates), Seq(col("k")), Seq(col("seq")))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == win.toSeq)
    // scale shape: no Exchange on the base side of the anti join (broadcast)
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"anti join must broadcast the touched keyset:\n$plan")
  }

  test("TableLog: rename-is-the-commit, stray tmp ignored, CAS loser throws") {
    import graft.sources.TableLog
    import spark.implicits._
    val root = TestSpark.tmpDir("tlog")
    val v1 = TableLog.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    assert(v1 == 1L && TableLog.versions(spark, root) == Seq(1L))
    // a crash mid-commit leaves only a .tmp manifest — invisible
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/v2.manifest.tmp-dead"),
      "phantom.parquet\n")
    assert(TableLog.versions(spark, root) == Seq(1L),
      "in-flight tmp manifests must not read as commits")
    val v2 = TableLog.append(Seq((3L, 30L)).toDF("k", "v"), root)
    assert(v2 == 2L)
    // append referenced v1's files rather than rewriting them
    val m1 = graft.sources.TableLog.manifest(spark, root, Some(1L))
    val m2 = graft.sources.TableLog.manifest(spark, root, Some(2L))
    assert(m1.forall(m2.contains), "append must reference the prior files")
    assert(TableLog.read(spark, root, Some(1L)).count() == 2L)
    assert(TableLog.read(spark, root).count() == 3L)
    // optimistic concurrency: writer A plans against head v2; writer B
    // commits v3 first; A's pinned-base commit loses the rename CAS and
    // must throw the TYPED conflict (its snapshot is stale), not alias
    val e2 = TableLog.manifestEntries(spark, root, Some(2L))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/v3.manifest"),
      m2.mkString("", "\n", "\n"))
    intercept[graft.sources.TableLog.CommitConflictException] {
      TableLog.commit(spark, root, e2, basedOn = Some(2L))
    }
    // an un-pinned writer simply lands after the interloper
    assert(TableLog.append(Seq((4L, 40L)).toDF("k", "v"), root) == 4L)
    // manifest entries carry sizes — maintenance never status-walks files
    assert(e2.forall(_.bytes.exists(_ > 0L)), s"sizes must ride in the manifest: $e2")
  }

  test("TableLog.compact: keeps by reference, atomic swap, old snapshots intact") {
    import graft.sources.TableLog
    val root = TestSpark.tmpDir("tlogc")
    val docs = Tables.load(spark, dir, "documents")
    // fragmented initial snapshot: 24 small files + one big appended
    TableLog.overwrite(docs.repartition(24), root)
    TableLog.append(docs.union(docs).coalesce(1), root)
    val before = TableLog.manifest(spark, root)
    def bytesOf(rel: String) = new java.io.File(s"$root/$rel").length()
    val target = before.map(bytesOf).max / 2
    val keepSet = before.filter(bytesOf(_) >= target).toSet
    assert(keepSet.nonEmpty && keepSet.size < before.size,
      "fixture needs both keeps and rewrites")
    val want = TableLog.read(spark, root).collect().map(_.toString).sorted
    val v3 = TableLog.compact(spark, root, target)
    val after = TableLog.manifest(spark, root, Some(v3))
    // keeps appear in the new manifest under the SAME path — zero IO
    assert(keepSet.subsetOf(after.toSet), "keeps must be referenced, not copied")
    assert(after.size < before.size, s"compaction must shrink: ${before.size} -> ${after.size}")
    val got = TableLog.read(spark, root).collect().map(_.toString).sorted
    assert(got.sameElements(want), "compaction must not change the data")
    // the pre-compaction snapshot is still a consistent read
    val old = TableLog.read(spark, root, Some(2L)).collect().map(_.toString).sorted
    assert(old.sameElements(want), "old versions stay readable after compaction")
  }

  test("TableLog.vacuum: horizon enforced, head intact, orphans swept by age") {
    import graft.sources.TableLog
    import spark.implicits._
    val root = TestSpark.tmpDir("tlogv")
    TableLog.overwrite(Seq((1L, 10L)).toDF("k", "v"), root) // v1
    TableLog.append(Seq((2L, 20L)).toDF("k", "v"), root)    // v2
    TableLog.overwrite(Seq((9L, 90L)).toDF("k", "v"), root) // v3: v1/v2 files unreferenced
    val droppedFiles = TableLog.manifest(spark, root, Some(2L))
    // a crashed writeData: staged but never committed
    val orphan = TableLog.writeData(Seq((7L, 70L)).toDF("k", "v"), root)
      .map(_.path)
    TableLog.vacuum(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(graft.sources.TableLog.versions(spark, root) == Seq(3L))
    assert(TableLog.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(9L))
    droppedFiles.foreach(f =>
      assert(!new java.io.File(s"$root/$f").exists(), s"$f must be deleted"))
    orphan.foreach(f =>
      assert(!new java.io.File(s"$root/$f").exists(), s"orphan $f must be swept"))
    // emptied commit dirs (including their _SUCCESS markers) are removed,
    // not left as husks
    orphan.foreach(f =>
      assert(!new java.io.File(s"$root/${f.split('/').head}").exists(),
        s"emptied commit dir of $f must be removed"))
    intercept[IllegalArgumentException] {
      TableLog.read(spark, root, Some(1L)).collect()
    }
    // age guard: a fresh orphan with the default 7-day threshold survives
    val young = TableLog.writeData(Seq((8L, 80L)).toDF("k", "v"), root)
      .map(_.path)
    TableLog.vacuum(spark, root, keepVersions = 1)
    young.foreach(f =>
      assert(new java.io.File(s"$root/$f").exists(), s"young staged $f must survive"))
  }

  test("TableLog.appendStream: every batch is one atomic commit; epochs replay as no-ops") {
    import graft.sources.TableLog
    import spark.implicits._
    val root = TestSpark.tmpDir("tlogs")
    TableLog.overwrite(Seq((0L, 0L)).toDF("k", "v"), root)
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = TableLog.appendStream(mem.toDF().toDF("k", "v"), root,
      s"$root/ckpt")
    try {
      mem.addData((1L, 10L)); q.processAllAvailable()
      mem.addData((2L, 20L)); q.processAllAvailable()
    } finally q.stop()
    assert(TableLog.versions(spark, root) == Seq(1L, 2L, 3L),
      "one snapshot commit per micro-batch")
    assert(TableLog.read(spark, root).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 1L, 2L))
    // epoch replay after a crash: the ledger marker makes it a no-op
    val replay = Seq((1L, 10L)).toDF("k", "v")
    TableLog.appendBatch(replay, 0L, root)
    assert(TableLog.versions(spark, root) == Seq(1L, 2L, 3L),
      "replayed epoch must not commit a duplicate snapshot")
    // the CRASH WINDOW: commit landed, marker did not (process died in
    // between) — the epoch token rides IN the manifest, so the replay is
    // still a no-op (a side-file ledger alone would re-append here)
    assert(new java.io.File(s"$root/_graft_log/epochs/epoch-1").delete())
    TableLog.appendBatch(Seq((2L, 20L)).toDF("k", "v"), 1L, root)
    assert(TableLog.versions(spark, root) == Seq(1L, 2L, 3L),
      "epoch committed in a manifest must not re-append when its marker is lost")
    assert(new java.io.File(s"$root/_graft_log/epochs/epoch-1").exists(),
      "the fast-path marker is restored")
    assert(TableLog.read(spark, root).count() == 3L)
  }

  test("TableLog manifest stats prune whole files from the plan, soundly") {
    import graft.sources.TableLog
    val root = TestSpark.tmpDir("tskip")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    TableLog.overwrite(docs.repartitionByRange(8, col("n_chars")),
      root, statCols = Seq("n_chars"))
    val all = TableLog.read(spark, root)
    val pruned = all.filter(col("n_chars").between(150L, 250L))
    // the skip is REAL: fewer files enter the plan than the table holds
    assert(PlannedFiles(all) >= 8)
    assert(PlannedFiles(pruned) < PlannedFiles(all),
      s"stats must prune files: ${PlannedFiles(pruned)} vs ${PlannedFiles(all)}")
    // and SOUND: the pruned read == plain filter over the source
    val want = docs.filter(col("n_chars").between(150L, 250L))
      .collect().map(_.toString).sorted
    val got = pruned.collect().map(_.toString).sorted
    assert(want.nonEmpty && got.sameElements(want))
    // a disjoint range prunes everything but stays schema-correct
    val none = all.filter(col("n_chars").between(10000000L, 20000000L))
    assert(PlannedFiles(none) == 0)
    assert(none.columns.toSeq == all.columns.toSeq && none.count() == 0L)
  }

  test("TableLog.deleteRange: only stat-intersecting files rewritten; old snapshot keeps the rows") {
    import graft.sources.TableLog
    val root = TestSpark.tmpDir("tdel")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    TableLog.overwrite(docs.repartitionByRange(8, col("n_chars")),
      root, statCols = Seq("n_chars"))
    val before = TableLog.manifestEntries(spark, root)
    val untouchedBefore = before.filter(_.stats.get("n_chars").exists {
      case (mn, mx) => mx < 150L || mn > 250L })
    assert(untouchedBefore.nonEmpty, "fixture needs provably-untouched files")
    val v2 = TableLog.deleteRange(spark, root, 150L, 250L, "n_chars")
    val after = TableLog.manifestEntries(spark, root, Some(v2))
    // surgical: every provably-out-of-range file survives AS THE SAME
    // ENTRY (path + stats), by reference
    untouchedBefore.foreach(e =>
      assert(after.contains(e), s"untouched $e must be kept by reference"))
    // and no in-range file's path survives
    val touched = before.toSet -- untouchedBefore.toSet
    touched.foreach(e =>
      assert(!after.map(_.path).contains(e.path), s"touched ${e.path} must be rewritten"))
    // semantics: head is the complement; the rewrite kept fresh stats
    val got = TableLog.read(spark, root)
      .filter(col("n_chars").between(150L, 250L)).count()
    assert(got == 0L, "deleted range must be empty at head")
    assert(TableLog.read(spark, root).count() ==
      docs.filter(!col("n_chars").between(150L, 250L)).count())
    assert(after.filterNot(untouchedBefore.contains).forall(e =>
      e.stats.contains("n_chars") || e.bytes.exists(_ < 2000)),
      "rewritten files should carry fresh stats (tiny empty parts exempt)")
    // compliance caveat is REAL: the prior snapshot still holds the rows
    // until vacuum ages it out
    assert(TableLog.read(spark, root, Some(1L))
      .filter(col("n_chars").between(150L, 250L)).count() > 0L)
    TableLog.vacuum(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    intercept[IllegalArgumentException] {
      TableLog.read(spark, root, Some(1L)).collect()
    }
  }

  test("q139: bucketed join shuffles neither side — the only Exchange is the groupBy") {
    val df = graft.SparkEntry.queries("q139_bucketed_join")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"merge hint must hold:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"scans must be bucketed reads:\n$plan")
    // the groupBy/orderBy above the join may exchange on c_mktsegment, but
    // NO exchange may repartition on the join key — the bucketed layout
    // already provides that distribution
    val custkeyExchange = "Exchange [a-z]*partitioning\\([oc]_custkey".r
    assert(custkeyExchange.findFirstIn(plan).isEmpty,
      s"join inputs must not shuffle on the bucket key:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("q138: the source predicate prunes partitions at plan time, not rows at run time") {
    val df = graft.SparkEntry.queries("q138_partition_pruning")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the FileScan prints as ONE line; pull each filter list's brackets
    def bracket(tag: String): String =
      s"$tag: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    assert(bracket("PartitionFilters").contains("source"),
      s"source must be a partition filter (directory pruning):\n$plan")
    // the partition column must NOT survive as a data filter or pushed
    // parquet filter — it no longer exists inside the files
    assert(!bracket("PushedFilters").contains("source")
        && !bracket("DataFilters").contains("source"),
      s"source leaked past the partition filter:\n$plan")
    assert(df.collect().nonEmpty)
  }
}
