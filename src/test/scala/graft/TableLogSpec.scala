package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LogStore, TableLog}

/** Round-14 commit-log protocol layer: delta-encoded commits + manifest
  * checkpointing, schema-in-manifest with additive evolution, partition
  * values + multi-column stats, predicate delete triage, change-data-feed
  * reads, and the LogStore seam. The SQL-visible semantics are the
  * q214–q218 oracle gates; these specs pin the protocol behaviors SQL
  * cannot see.
  */
class TableLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = TestSpark.tmpDir(tag)

  private def withInterval[A](n: Int)(f: => A): A = {
    val prev = spark.conf.getOption(TableLog.CheckpointIntervalKey)
    spark.conf.set(TableLog.CheckpointIntervalKey, n.toString)
    try f
    finally prev.fold(spark.conf.unset(TableLog.CheckpointIntervalKey))(
      spark.conf.set(TableLog.CheckpointIntervalKey, _))
  }

  test("delta commits: append writes O(batch) manifest bytes, not O(table)") {
    import spark.implicits._
    val root = tmp("tdelta")
    TableLog.overwrite((1L to 100L).map(i => (i, i * 10)).toDF("k", "v")
      .repartition(10), root)
    val v2 = TableLog.append(Seq((101L, 1010L)).toDF("k", "v").coalesce(1), root)
    // the append's manifest records ONLY its own adds (+ meta) — the
    // whole point of delta encoding for a streaming sink
    val m2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_graft_log/v$v2.manifest"))
    val addLines = m2.linesIterator.filter(_.startsWith("+\t")).size
    val removeLines = m2.linesIterator.filter(_.startsWith("-\t")).size
    assert(addLines == 1 && removeLines == 0,
      s"append manifest must be O(batch): $addLines adds, $removeLines removes\n$m2")
    // and the snapshot still reconstructs the full table
    assert(TableLog.read(spark, root).count() == 101L)
    assert(TableLog.manifestEntries(spark, root).size == 11)
  }

  test("checkpoints: cadence, pointer, and checkpointed ≡ full-replay at every version") {
    import spark.implicits._
    val root = tmp("tckpt")
    withInterval(2) {
      TableLog.overwrite(Seq((0L, 0L)).toDF("k", "v"), root)
      (1L to 7L).foreach(i =>
        TableLog.append(Seq((i, i * 10)).toDF("k", "v"), root))
      // checkpoints at every interval boundary, pointer at the newest
      for (v <- Seq(2L, 4L, 6L, 8L))
        assert(new java.io.File(s"$root/_graft_log/v$v.checkpoint").exists(),
          s"checkpoint at v$v must exist")
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$root/_graft_log/_last_checkpoint")).trim == "8")
      // every version reads identically via checkpoint base and full replay
      for (v <- 1L to 8L) {
        val cp = TableLog.state(spark, root, Some(v), useCheckpoint = true)
        val re = TableLog.state(spark, root, Some(v), useCheckpoint = false)
        assert(cp.entries.toSet == re.entries.toSet,
          s"v$v: checkpointed and replayed entry sets diverge")
        assert(cp.schemaJson == re.schemaJson && cp.epochMax == re.epochMax)
        assert(TableLog.read(spark, root, Some(v)).count() == v)
      }
      // head resolution via pointer+probe equals the listing fallback
      assert(TableLog.headVersion(spark, root).contains(8L))
      assert(new java.io.File(s"$root/_graft_log/_last_checkpoint").delete())
      assert(TableLog.headVersion(spark, root).contains(8L),
        "lost pointer must fall back to the listing, not lose the head")
    }
  }

  test("schema evolution: additive columns null-fill old files; type change throws") {
    import spark.implicits._
    val root = tmp("tschema")
    TableLog.overwrite(Seq((1L, 10L)).toDF("k", "v"), root)
    // additive: new column recorded, old files null-fill at read
    TableLog.append(Seq((2L, 20L, "b")).toDF("k", "v", "tag"), root)
    val head = TableLog.read(spark, root).orderBy("k").collect()
    assert(head.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(head(0).isNullAt(2) && head(1).getString(2) == "b",
      s"old file must null-fill the added column: ${head.toSeq}")
    // a batch MISSING a column null-fills its own rows
    TableLog.append(Seq((3L, 30L)).toDF("k", "v"), root)
    val h2 = TableLog.read(spark, root).orderBy("k").collect()
    assert(h2.length == 3 && h2(2).isNullAt(2))
    // time travel reads each version with ITS schema
    assert(TableLog.read(spark, root, Some(1L)).columns.toSeq == Seq("k", "v"))
    assert(TableLog.read(spark, root, Some(2L)).columns.toSeq ==
      Seq("k", "v", "tag"))
    assert(TableLog.schemaOf(spark, root, Some(1L)).get.fieldNames.toSeq ==
      Seq("k", "v"))
    // non-additive: the typed refusal, nothing committed
    val before = TableLog.versions(spark, root)
    intercept[TableLog.SchemaEvolutionException] {
      TableLog.append(Seq((4L, "oops")).toDF("k", "v"), root)
    }
    assert(TableLog.versions(spark, root) == before,
      "a refused evolution must not commit")
  }

  test("partitioned log: partition columns reconstruct typed; both pruning layers engage") {
    val root = tmp("tpart")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      // range-cluster on the STAT column only: each task is an n_chars
      // slice and writes one tight-range file into every source dir, so
      // every partition gets several skippable files
      .repartitionByRange(4, col("n_chars"))
    TableLog.overwrite(docs, root, Seq("source"), Seq("n_chars"))
    // round trip: schema order, partition column typed + populated
    val all = TableLog.read(spark, root)
    assert(all.columns.toSeq == Seq("doc_id", "source", "n_chars"))
    val want = docs.collect().map(_.toString).sorted
    assert(all.collect().map(_.toString).sorted.sameElements(want),
      "partitioned log read must reproduce the frame exactly")
    // layer 1: partition equality prunes files at the PLANNING layer.
    // pick a partition that actually has rows in the stat range so the
    // soundness check is non-vacuous
    val src = docs.filter(col("n_chars").between(150L, 300L))
      .groupBy("source").count().orderBy(col("source"))
      .head().getString(0)
    val one = all.filter(col("source") === src)
    assert(PlannedFiles(one) < PlannedFiles(all),
      s"partition pruning must drop files: ${PlannedFiles(one)} of ${PlannedFiles(all)}")
    assert(one.count() == docs.filter(col("source") === src).count())
    // layer 2: stats range prunes further WITHIN the partition
    val both = one.filter(col("n_chars").between(150L, 300L))
    assert(PlannedFiles(both) < PlannedFiles(one),
      s"stats must prune within the partition: ${PlannedFiles(both)} of ${PlannedFiles(one)}")
    // soundness: pruned read ≡ plain filter
    val wantF = docs.filter(col("source") === src &&
      col("n_chars").between(150L, 300L)).collect().map(_.toString).sorted
    val gotF = both.collect().map(_.toString).sorted
    assert(wantF.nonEmpty && gotF.sameElements(wantF))
  }

  test("predicate delete: derivable bounds keep files by reference; semantics exact") {
    val root = tmp("tpdel")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    TableLog.overwrite(docs.repartitionByRange(8, col("n_chars")),
      root, statCols = Seq("n_chars"))
    val before = TableLog.manifestEntries(spark, root)
    val provablyOut = before.filter(_.stats.get("n_chars").exists(_._2 < 150L))
    assert(provablyOut.nonEmpty, "fixture needs files below the bound")
    // n_chars % 7 = 0 AND n_chars >= 150: the modulo conjunct is not
    // derivable, the >= is — triage must still engage on it
    val v2 = TableLog.delete(spark, root,
      col("n_chars") % 7 === 0 && col("n_chars") >= 150)
    val after = TableLog.manifestEntries(spark, root, Some(v2))
    provablyOut.foreach(e => assert(after.contains(e),
      s"file provably below the derivable bound must be kept by reference: $e"))
    val got = TableLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = docs.filter(!(col("n_chars") % 7 === 0 && col("n_chars") >= 150))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want), "predicate delete must keep the complement")
    // a predicate with NO derivable bounds degrades to full rewrite, still correct
    val v3 = TableLog.delete(spark, root, col("doc_id") % 13 === 0)
    assert(TableLog.read(spark, root, Some(v3)).count() ==
      want.count { case (id, _) => id % 13 != 0 })
  }

  test("predicateBounds: AND intersects, OR hulls, casts seen through, unknowns drop out") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    val a = org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("a")
    val b = org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("b")
    def lit(v: Long) = Literal(v, LongType)
    // integral bounds are kind "l", values in the long stats' encoding
    def l(lo: Option[Long], hi: Option[Long]) =
      ("l", lo.map(_.toString), hi.map(_.toString))
    assert(TableLog.predicateBounds(And(GreaterThanOrEqual(a, lit(5)),
      LessThan(a, lit(10)))) == Map("a" -> l(Some(5L), Some(10L))))
    assert(TableLog.predicateBounds(Or(EqualTo(a, lit(3)), EqualTo(a, lit(9))))
      == Map("a" -> l(Some(3L), Some(9L))))
    // OR with an unbounded branch must drop the column (conservative)
    assert(TableLog.predicateBounds(Or(EqualTo(a, lit(3)),
      GreaterThan(b, lit(0)))) == Map.empty)
    // literal-first comparison mirrors; cast seen through
    assert(TableLog.predicateBounds(GreaterThan(lit(7),
      Cast(a, LongType))) == Map("a" -> l(None, Some(7L))))
    // a conjunct nobody understands contributes nothing but doesn't erase
    assert(TableLog.predicateBounds(And(EqualTo(Remainder(a, lit(7)), lit(0)),
      GreaterThanOrEqual(a, lit(150)))) == Map("a" -> l(Some(150L), None)))
    // NARROWING casts of the attribute are opaque (cast(a AS int) = 5 also
    // matches a = 2^32+5 — seeing through it would keep matching files);
    // unknown child type admits only the to-long widening
    import org.apache.spark.sql.types.{IntegerType, LongType => LT}
    assert(TableLog.predicateBounds(EqualTo(Cast(a, IntegerType), lit(5)))
      == Map.empty, "narrowing attr cast must not derive bounds")
    val aLong = AttributeReference("a", LT)()
    assert(TableLog.predicateBounds(EqualTo(Cast(aLong, IntegerType),
      Literal(5, IntegerType))) == Map.empty,
      "resolved long->int cast must not derive bounds")
    val aInt = AttributeReference("a", IntegerType)()
    assert(TableLog.predicateBounds(EqualTo(Cast(aInt, LT), Literal(5L, LT)))
      == Map("a" -> l(Some(5L), Some(5L))),
      "resolved widening cast is transparent")
    // a literal whose cast would wrap is opaque too
    assert(TableLog.predicateBounds(EqualTo(a,
      Cast(Literal((1L << 40), LT), IntegerType))) == Map.empty,
      "value-destroying literal cast must not leak the uncast value")
  }

  test("legacy full-snapshot manifests replay as REPLACE, not accumulate") {
    // a pre-delta-format log: each manifest was the complete file list,
    // removal implicit — replaying them as adds would resurrect files an
    // old overwrite dropped
    val root = tmp("tlegacy")
    val log = new java.io.File(s"$root/_graft_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/v1.manifest"),
      "c0/a.parquet\t100\nc0/b.parquet\t200\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_graft_log/v2.manifest"),
      "c1/c.parquet\t300\n")
    assert(TableLog.manifest(spark, root, Some(1L)).toSet ==
      Set("c0/a.parquet", "c0/b.parquet"))
    assert(TableLog.manifest(spark, root, Some(2L)) == Seq("c1/c.parquet"),
      "an old-format overwrite must not resurrect v1's files")
  }

  test("readChanges since inception (vFrom = 0) works on any history") {
    import spark.implicits._
    val root = tmp("tcdf0")
    TableLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "c"), root) // v1
    TableLog.overwrite(Seq((1L, "a"), (3L, "c")).toDF("k", "c"), root) // v2 rewrite
    val got = TableLog.readChanges(spark, root, 0L, 2L,
        col("k"), col("c")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == Seq((1L, "added"), (3L, "added")),
      s"since-inception diff against the empty snapshot: ${got.toSeq}")
  }

  test("first commit via append records schema + layout; empty table keeps both") {
    import spark.implicits._
    // append as the FIRST commit (the streaming-sink-into-fresh-root path)
    val root = tmp("tfirst")
    TableLog.appendBatch(Seq((1L, "x")).toDF("k", "c"), 0L, root)
    assert(TableLog.schemaOf(spark, root).exists(_.fieldNames.toSeq ==
      Seq("k", "c")), "a first append must record the schema")
    // a delete that empties the table still reads (schema survives)
    TableLog.delete(spark, root, lit(true))
    assert(TableLog.read(spark, root).columns.toSeq == Seq("k", "c"))
    assert(TableLog.read(spark, root).count() == 0L)
    // a momentarily-EMPTY partitioned table keeps its layout: the next
    // append must still demand + use the partition columns
    val root2 = tmp("tkeeppart")
    TableLog.overwrite(
      Seq((1L, "p1"), (2L, "p2")).toDF("k", "p"), root2, Seq("p"))
    TableLog.delete(spark, root2, lit(true))
    assert(TableLog.read(spark, root2).count() == 0L)
    intercept[IllegalArgumentException] {
      TableLog.append(Seq((3L)).toDF("k"), root2) // missing partition col
    }
    TableLog.append(Seq((3L, "p1")).toDF("k", "p"), root2)
    val e = TableLog.manifestEntries(spark, root2)
    assert(e.nonEmpty && e.forall(_.partition.keySet == Set("p")),
      s"layout must survive an empty snapshot: $e")
    assert(TableLog.read(spark, root2).collect().map(_.toString).toSeq ==
      Seq("[3,p1]"))
  }

  test("partition-triaged delete: other partitions kept by reference; clustered compact keeps skipping") {
    val root = tmp("tpdelp")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .repartitionByRange(4, col("n_chars"))
    TableLog.overwrite(docs, root, Seq("source"), Seq("n_chars"))
    val before = TableLog.manifestEntries(spark, root)
    val others = before.filterNot(_.partition.get("source").contains("src3"))
    assert(others.nonEmpty && others.size < before.size)
    val v2 = TableLog.delete(spark, root,
      col("source") === "src3" && col("n_chars") % 2 === 0)
    val after = TableLog.manifestEntries(spark, root, Some(v2))
    others.foreach(e => assert(after.contains(e),
      s"other partitions must be kept by reference: $e"))
    assert(!after.exists(e => before.contains(e) &&
      e.partition.get("source").contains("src3")),
      "src3's files must all be rewritten")
    assert(TableLog.read(spark, root)
      .filter(col("source") === "src3" && col("n_chars") % 2 === 0)
      .count() == 0L)
    assert(TableLog.read(spark, root).count() ==
      docs.filter(!(col("source") === "src3" && col("n_chars") % 2 === 0))
        .count())
  }

  test("clustered compact re-tightens per-file ranges so skipping survives") {
    val root = tmp("tcclust")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    TableLog.overwrite(docs.repartitionByRange(8, col("n_chars")),
      root, statCols = Seq("n_chars"))
    val target = TableLog.manifestEntries(spark, root)
      .flatMap(_.bytes).max * 3 // every file small -> full rewrite
    TableLog.compact(spark, root, target, clusterBy = Seq("n_chars"))
    val after = TableLog.manifestEntries(spark, root)
    val ranges = after.flatMap(_.stats.get("n_chars")).sortBy(_._1)
    assert(ranges.size >= 2, s"fixture needs several rewritten files: $after")
    // clustered rewrite: consecutive file ranges do not overlap (each file
    // covers a tight slice) — a hash rewrite would give every file the
    // whole domain
    ranges.sliding(2).foreach { case Seq((_, hi1), (lo2, _)) =>
      assert(lo2 >= hi1, s"clustered files must not overlap: $ranges")
    case _ => ()
    }
    // and the data round-trips
    assert(TableLog.read(spark, root).count() == docs.count())
  }

  test("manifest row counts answer COUNT with zero data IO; hybrid scans only count-less files") {
    val root = tmp("tcount")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val total = docs.count()
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    TableLog.overwrite(docs.repartitionByRange(4, col("n_chars")),
      root, Seq("source"), Seq("n_chars"))
    assert(TableLog.manifestEntries(spark, root).forall(_.rows.nonEmpty),
      "stats-collecting writers must record per-file counts")
    // THE metadata-only proof: destroy the data files; counts still answer
    TableLog.manifest(spark, root).foreach(f =>
      assert(new java.io.File(s"$root/$f").delete(), s"fixture delete $f"))
    assert(TableLog.rowCounts(spark, root) == total,
      "COUNT(*) must come from the manifest alone")
    assert(TableLog.rowCounts(spark, root,
      partitionEq = Map("source" -> "src3")) == bySrc("src3"))
    val perPart = TableLog.partitionRowCounts(spark, root).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perPart == bySrc, s"per-partition counts from metadata: $perPart")
    // hybrid: a count-less append is counted by scanning JUST its files
    val root2 = tmp("tcount2")
    import spark.implicits._
    TableLog.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      root2, statCols = Seq("v"))
    TableLog.append(Seq((3L, 30L)).toDF("k", "v"), root2) // no stats: no count
    val e2 = TableLog.manifestEntries(spark, root2)
    assert(e2.exists(_.rows.isEmpty) && e2.exists(_.rows.nonEmpty),
      s"fixture needs both counted and count-less entries: $e2")
    assert(TableLog.rowCounts(spark, root2) == 3L)
  }

  test("change-data-feed: append-only window reads only new files; rewrites fall back to diff") {
    import spark.implicits._
    val root = tmp("tcdf")
    TableLog.overwrite((1L to 50L).map(i => (i, i)).toDF("k", "v")
      .repartition(4), root) // v1
    TableLog.append((51L to 60L).map(i => (i, i)).toDF("k", "v"), root) // v2
    TableLog.append((61L to 70L).map(i => (i, i)).toDF("k", "v"), root) // v3
    // file-level: the window nets to adds only
    val (adds, removes) = TableLog.fileChanges(spark, root, 1L, 3L)
    assert(adds.nonEmpty && removes.isEmpty)
    // fast path: changes == the appended rows, and the plan reads ONLY the
    // added files — the base is never scanned
    val cdf = TableLog.readChanges(spark, root, 1L, 3L,
      col("k"), col("v").cast("string"))
    assert(cdf.inputFiles.toSet ==
      adds.map(e => "file:" + root + "/" + e.path).toSet ||
      cdf.inputFiles.length == adds.size,
      s"fast path must plan only added files: ${cdf.inputFiles.length} vs ${adds.size}")
    val rows = cdf.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 20 && rows.forall(_._2 == "added"))
    assert(rows.map(_._1).sorted.toSeq == (51L to 70L).toSeq)
    // a rewrite (delete) makes the window non-append-only → full diff,
    // unchanged rows excluded
    TableLog.overwrite((1L to 65L).map(i =>
      (i, if (i % 10 == 0) i + 1000 else i)).toDF("k", "v"), root) // v4
    val cdf2 = TableLog.readChanges(spark, root, 3L, 4L,
      col("k"), col("v").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val wantChanged = (1L to 65L).filter(_ % 10 == 0).map(i => (i, "changed"))
    val wantRemoved = (66L to 70L).map(i => (i, "removed"))
    assert(cdf2.sameElements((wantChanged ++ wantRemoved).sorted),
      s"diff fallback rows: ${cdf2.toSeq}")
  }

  test("readChangeRows: both images for updates, deletes carried, evolution aligned") {
    import spark.implicits._
    val root = tmp("tcdfrows")
    TableLog.overwrite(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      root) // v1
    // v2: additive column + an update + a delete + an insert
    TableLog.overwrite(Seq((1L, 10L, "a"), (2L, 99L, "b"), (4L, 40L, "c"))
      .toDF("k", "v", "tag"), root) // v2
    val got = TableLog.readChangeRows(spark, root, 1L, 2L, Seq("k"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._4))
    // k=1: v same but tag NULL->'a' differs -> update images; k=2: update;
    // k=3: delete; k=4: insert
    assert(got.toSeq == Seq(
      (1L, 10L, "a", "update_postimage"), (1L, 10L, null, "update_preimage"),
      (2L, 99L, "b", "update_postimage"), (2L, 20L, null, "update_preimage"),
      (3L, 30L, null, "delete"), (4L, 40L, "c", "insert")), s"got: ${got.toSeq}")
    // since inception: everything at vTo is an insert
    val all = TableLog.readChangeRows(spark, root, 0L, 2L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(3))).sorted
    assert(all.toSeq == Seq((1L, "insert"), (2L, "insert"), (4L, "insert")))
  }

  test("z-ordered log: a 2-d box prunes on BOTH axes, beyond either single axis") {
    import graft.sources.Warehouse
    val root = tmp("tzbox")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    TableLog.overwrite(
      Warehouse.zClustered(docs, "doc_id", "n_chars", n = 16),
      root, statCols = Seq("doc_id", "n_chars"))
    val read = TableLog.read(spark, root)
    val all = PlannedFiles(read)
    val idHi = docs.agg(max(col("doc_id"))).head().getLong(0) / 4
    val dOnly = PlannedFiles(read.filter(col("doc_id").between(0L, idHi)))
    val nOnly = PlannedFiles(read.filter(col("n_chars").between(150L, 300L)))
    val box = read.filter(col("doc_id").between(0L, idHi) &&
      col("n_chars").between(150L, 300L))
    assert(dOnly < all && nOnly < all,
      s"z-clustering must let EACH axis prune: $dOnly / $nOnly of $all")
    // ≤ on the box (a range-partitioner boundary shift of one file must
    // not flake the suite) plus a strict win over no pruning at all —
    // the pruning-layer composition, not a sampled-split lottery
    assert(PlannedFiles(box) <= math.min(dOnly, nOnly) &&
      PlannedFiles(box) < all,
      s"the box must prune at least as hard as both single axes: " +
        s"${PlannedFiles(box)} vs $dOnly / $nOnly of $all")
    // soundness
    val want = docs.filter(col("doc_id").between(0L, idHi) &&
      col("n_chars").between(150L, 300L)).collect().map(_.toString).sorted
    val got = box.collect().map(_.toString).sorted
    assert(want.nonEmpty && got.sameElements(want))
  }

  test("deletion vectors: zero rewrite, counts maintained, stacking, materialize, vacuum") {
    val root = tmp("tdv")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    TableLog.overwrite(docs.repartitionByRange(8, col("n_chars")),
      root, statCols = Seq("n_chars"))
    val before = TableLog.manifestEntries(spark, root)
    def dataFiles() = TableLog.manifest(spark, root)
      .filter(f => new java.io.File(s"$root/$f").exists()).toSet
    val filesBefore = dataFiles()
    val v2 = TableLog.deleteVectors(spark, root,
      col("n_chars").between(150L, 250L))
    val after = TableLog.manifestEntries(spark, root, Some(v2))
    // ZERO REWRITE: every surviving entry keeps its path and bytes
    after.foreach { e =>
      val old = before.find(_.path == e.path)
      assert(old.nonEmpty, s"DV delete must never write new data files: $e")
      assert(old.get.bytes == e.bytes)
    }
    // provably-clean files: identical entries, no dv token
    before.filter(_.stats.get("n_chars").exists { case (mn, mx) =>
      mx < 150L || mn > 250L }).foreach(e =>
      assert(after.contains(e), s"clean file must be untouched: $e"))
    // intersecting survivors carry the vector
    assert(after.exists(_.dvs.nonEmpty), "touched files must reference a DV")
    // semantics + metadata-only live counts
    val want = docs.filter(!col("n_chars").between(150L, 250L))
    assert(TableLog.read(spark, root).collect().map(_.toString).sorted
      .sameElements(want.collect().map(_.toString).sorted))
    assert(after.forall(_.rows.nonEmpty) &&
      TableLog.rowCounts(spark, root) == want.count(),
      "live counts must stay metadata-only through a DV delete")
    // time travel: v1 still has every row
    assert(TableLog.read(spark, root, Some(1L)).count() == docs.count())
    // STACKING: a second DV delete composes
    TableLog.deleteVectors(spark, root, col("n_chars") > 400L)
    val want2 = docs.filter(!col("n_chars").between(150L, 250L) &&
      !(col("n_chars") > 400L))
    assert(TableLog.read(spark, root).collect().map(_.toString).sorted
      .sameElements(want2.collect().map(_.toString).sorted))
    // CDF safety: the DV window is a CHANGE window, never an append
    val (adds, removes) = TableLog.fileChanges(spark, root, 1L, v2)
    assert(removes.nonEmpty && adds.map(_.path).toSet.subsetOf(filesBefore),
      "replaced-in-place files must show in both change lists")
    // a graftlog tail delivers the v1 appends; the DV version stops it
    // with the typed error
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val tail = spark.readStream.format("graftlog").load(root)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) => batches.add(b.count()); ()
      }.start()
    val stop = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try tail.processAllAvailable() finally tail.stop()
    }
    assert(Iterator.iterate[Throwable](stop)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.sources.NonAppendVersionException]),
      s"the DV version must stop the tail with the typed error: $stop")
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.toSeq.filter(_ != 0L) == Seq(docs.count()),
      "the v1 appends are delivered before the DV version")
    // vacuum keeps the DV sidecars of live files
    TableLog.vacuum(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(TableLog.read(spark, root).collect().map(_.toString).sorted
      .sameElements(want2.collect().map(_.toString).sorted),
      "vacuum must never sweep a referenced deletion vector")
    // a rewrite MATERIALIZES the vectors: compacted entries carry none
    val target = TableLog.manifestEntries(spark, root)
      .flatMap(_.bytes).max * 10
    TableLog.compact(spark, root, target)
    val compacted = TableLog.manifestEntries(spark, root)
    assert(compacted.forall(_.dvs.isEmpty),
      "rewritten files must not reference vectors")
    assert(TableLog.read(spark, root).collect().map(_.toString).sorted
      .sameElements(want2.collect().map(_.toString).sorted))
  }

  test("restore: head re-references the old snapshot byte-identically, zero IO") {
    import spark.implicits._
    val root = tmp("trestore")
    TableLog.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root) // v1
    TableLog.append(Seq((3L, 30L)).toDF("k", "v"), root)               // v2
    TableLog.overwrite(Seq((9L, 90L)).toDF("k", "v"), root)            // v3 bad
    val v4 = TableLog.restore(spark, root, 2L)
    assert(v4 == 4L)
    // the restored head is the OLD ENTRY SET by reference — no new files
    assert(TableLog.manifestEntries(spark, root, Some(4L)).toSet ==
      TableLog.manifestEntries(spark, root, Some(2L)).toSet,
      "restore must reference, never rewrite")
    assert(TableLog.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L))
    // history is preserved (the accident is still auditable + readable)
    assert(TableLog.read(spark, root, Some(3L)).count() == 1L)
    val hist = TableLog.history(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist(4L) == "restore", s"history: $hist")
    // restoring across a schema boundary restates the OLD schema
    val root2 = tmp("trestore2")
    TableLog.overwrite(Seq((1L, 10L)).toDF("k", "v"), root2)          // v1
    TableLog.append(Seq((2L, 20L, "t")).toDF("k", "v", "tag"), root2) // v2
    TableLog.restore(spark, root2, 1L)
    assert(TableLog.read(spark, root2).columns.toSeq == Seq("k", "v"),
      "restore must restate the restored version's schema")
  }

  test("vacuum: epoch continuity survives manifest deletion; live .crc sidecars kept") {
    import spark.implicits._
    val root = tmp("tvac")
    TableLog.overwrite(Seq((0L, 0L)).toDF("k", "v"), root) // v1
    TableLog.appendBatch(Seq((1L, 10L)).toDF("k", "v"), 0L, root) // v2 epoch 0
    TableLog.appendBatch(Seq((2L, 20L)).toDF("k", "v"), 1L, root) // v3 epoch 1
    // sidecar fixture: a checksum next to a LIVE data file (the round-13
    // advice target: the old sweep keyed on the raw dot-name and deleted
    // live files' sidecars on filesystems whose listing exposes them)
    val live = TableLog.manifest(spark, root).head
    val liveDir = s"$root/${live.split('/').head}"
    val liveName = live.split('/').last
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$liveDir/.$liveName.crc"), "crc")
    // the sweep-key mapping itself (ChecksumFileSystem hides sidecars from
    // local listings, so the behavioral path needs a raw/remote FS — the
    // mapping is the testable invariant)
    assert(TableLog.sweepKey("c0", s".$liveName.crc") == s"c0/$liveName",
      "a sidecar must be judged by its data file's key")
    assert(TableLog.sweepKey("c0", liveName) == s"c0/$liveName")
    assert(TableLog.sweepKey("", ".f.parquet.crc") == "f.parquet")
    // vacuum away the manifests that carried the epoch tokens
    TableLog.vacuum(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(TableLog.versions(spark, root) == Seq(3L))
    // ADVICE r13+r14: with the epoch tokens' manifests gone AND the marker
    // gone (vacuum now sweeps markers ≤ the horizon epochmax itself), a
    // replayed epoch must STILL be a no-op (epochmax rides in the
    // vacuum-written checkpoint)
    assert(!new java.io.File(s"$root/_graft_log/epochs/epoch-1").exists(),
      "vacuum must have swept the redundant marker")
    TableLog.appendBatch(Seq((2L, 20L)).toDF("k", "v"), 1L, root)
    assert(TableLog.versions(spark, root) == Seq(3L),
      "replayed epoch must no-op after vacuum deleted its manifest")
    assert(TableLog.read(spark, root).count() == 3L)
    // ADVICE r13: the live file's checksum sidecar survives the sweep
    assert(new java.io.File(s"$liveDir/.$liveName.crc").exists(),
      "live data file's .crc sidecar must not be swept")
  }

  test("appendStream with auto-compaction: live file count stays bounded, data exact") {
    import spark.implicits._
    val root = tmp("tautoc")
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    // huge target: every data file is "small" -> each maintenance pass
    // folds the whole tail into ~1 file
    val q = TableLog.appendStream(mem.toDF().toDF("k", "v"), root,
      s"$root/ckpt", compactEvery = 2, targetBytes = 1L << 30)
    try {
      (1L to 8L).foreach { i =>
        mem.addData((i, i * 10)); q.processAllAvailable()
      }
    } finally q.stop()
    // 8 epochs at one+ file each would hold >= 8 live files without the
    // maintenance; with compactEvery=2 the head holds the compacted file
    // plus at most the last uncompacted batch's files
    val live = TableLog.manifestEntries(spark, root)
    assert(live.size <= 3,
      s"auto-compaction must bound live files: ${live.size} (${live.map(_.path)})")
    assert(TableLog.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == (1L to 8L), "maintenance must never change the data")
    // the maintenance commits are separate, auditable versions
    val ops = TableLog.history(spark, root).collect()
      .map(r => Option(r.getString(1)).getOrElse("?"))
    assert(ops.count(_ == "compact") >= 3, s"ops: ${ops.toSeq}")
    assert(ops.count(_ == "append") == 8, s"ops: ${ops.toSeq}")
    // exactly-once still holds through interleaved maintenance: a replay
    // of an already-committed epoch is a no-op
    val before = TableLog.versions(spark, root).size
    TableLog.appendBatch(Seq((3L, 30L)).toDF("k", "v"), 2L, root)
    assert(TableLog.versions(spark, root).size == before,
      "replayed epoch must no-op across maintenance commits")
  }

  test("LogStore seam: the full protocol runs on a non-filesystem store") {
    import spark.implicits._
    MemLogStore.clear()
    spark.conf.set(LogStore.ConfKey, "graft.MemLogStore")
    try {
      val root = tmp("tmem")
      // data parquet lands on disk; ALL log metadata lives in the mock
      TableLog.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
      TableLog.append(Seq((3L, 30L)).toDF("k", "v"), root)
      assert(!new java.io.File(s"$root/_graft_log").exists(),
        "no log directory may touch the filesystem under the mock store")
      assert(TableLog.versions(spark, root) == Seq(1L, 2L))
      assert(TableLog.read(spark, root).count() == 3L)
      assert(TableLog.read(spark, root, Some(1L)).count() == 2L)
      // pinned-base CAS conflict surfaces from putIfAbsent, no rename anywhere
      val e1 = TableLog.manifestEntries(spark, root, Some(1L))
      intercept[TableLog.CommitConflictException] {
        TableLog.commit(spark, root, e1, basedOn = Some(1L))
      }
      // concurrent appenders with retry: every batch lands exactly once
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 6).map { i =>
        new Thread(() => {
          var done = false
          var attempts = 0
          while (!done && attempts < 40) {
            try {
              TableLog.append(Seq((100L + i, i.toLong)).toDF("k", "v"), root)
              done = true
            } catch {
              case _: TableLog.CommitConflictException => attempts += 1
              case t: Throwable => errs.add(t); done = true
            }
          }
          if (!done) errs.add(new IllegalStateException(s"appender $i starved"))
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"concurrent appends failed: ${errs.toArray.toSeq}")
      assert(TableLog.versions(spark, root) == (1L to 8L),
        "6 racing appends must land as 6 contiguous versions")
      assert(TableLog.read(spark, root).count() == 9L)
    } finally {
      spark.conf.unset(LogStore.ConfKey)
      MemLogStore.clear()
    }
  }

  test("deletion vectors on a partitioned table with escaped partition values") {
    import spark.implicits._
    val root = tmp("tdvesc")
    // partition values that need URI escaping in _metadata.file_path:
    // a space (literal on disk, %20 in the URI) and a hive-escaped colon
    // (src=x%3Ay on disk, %253A in the URI) — the exact shapes where a
    // raw-key lookup silently no-ops the delete
    val df = (1L to 40L).map { i =>
      val src = if (i % 2 == 0) "a b" else "x:y"
      (i, src, i * 10)
    }.toDF("k", "src", "v")
    TableLog.overwrite(df, root, Seq("src"), Seq("v"))
    val v2 = TableLog.deleteVectors(spark, root, col("k") % 4 === 0)
    // the delete must actually take effect at head (entries carry d: tokens)
    val after = TableLog.manifestEntries(spark, root, Some(v2))
    assert(after.exists(_.dvs.nonEmpty),
      "touched files of the escaped partitions must reference a DV")
    val got = TableLog.read(spark, root).select("k").as[Long].collect().sorted
    val want = (1L to 40L).filterNot(_ % 4 == 0)
    assert(got.toSeq == want,
      s"DV delete on escaped partitions must remove rows at head: got ${got.length}")
    // live counts stay metadata-only and correct
    assert(TableLog.rowCounts(spark, root) == want.size.toLong)
    // stacking across the escaped partitions composes
    TableLog.deleteVectors(spark, root, col("k") <= 5L)
    assert(TableLog.read(spark, root).select("k").as[Long].collect().sorted
      .toSeq == want.filter(_ > 5L))
  }

  test("writeIfAbsent is a real CAS: never overwrites, loser sees false") {
    val root = tmp("tcas")
    val store = LogStore.resolve(spark)
    val p = s"$root/_graft_log/v1.manifest"
    assert(store.writeIfAbsent(spark, p, "first"))
    assert(!store.writeIfAbsent(spark, p, "second"),
      "the CAS loser must see false")
    assert(store.read(spark, p) == "first",
      "a lost CAS must never clobber the winner's content")
    // and the loser's temp staging never lingers next to the log
    val leftovers = new java.io.File(s"$root/_graft_log").listFiles()
      .map(_.getName).filter(_.contains(".tmp-"))
    assert(leftovers.isEmpty, s"temp files must be cleaned: ${leftovers.toSeq}")
  }

  test("full-snapshot commit of an in-place entry change is a remove + re-add") {
    import spark.implicits._
    val root = tmp("tinplace")
    TableLog.overwrite(
      (1L to 10L).map(i => (i, i)).toDF("k", "v").coalesce(1), root)
    val e = TableLog.manifestEntries(spark, root).head
    // same path, different entry payload (a stats/rows refresh in place)
    val v2 = TableLog.commit(spark, root,
      Seq(e.copy(rows = Some(10L))), meta = Seq("op:refresh"))
    val (adds, removes) = TableLog.fileChanges(spark, root, v2 - 1, v2)
    assert(adds.map(_.path) == Seq(e.path) && removes == Seq(e.path),
      "an in-place change must show in BOTH change lists, " +
        s"got adds=${adds.map(_.path)} removes=$removes")
    // so an append-only consumer cannot mistake it for new rows
    intercept[IllegalArgumentException] {
      TableLog.readAppended(spark, root, v2 - 1, v2)
    }
  }

  test("commit rebase: disjoint writers auto-rebase; true overlap throws typed") {
    import spark.implicits._
    // drive through the NON-FILESYSTEM store: the rebase logic must live in
    // the protocol, not in any rename/filesystem property
    spark.conf.set(LogStore.ConfKey, classOf[MemLogStore].getName)
    try {
      MemLogStore.clear()
      val root = tmp("trebase_mem")
      val df = (k: Long) => (1L to 20L).map(i => (i * 10 + k, k)).toDF("k", "v")
      TableLog.overwrite(df(0).repartition(4), root) // v1: 4 files
      val f = TableLog.manifestEntries(spark, root).head.path
      // DISJOINT: intervening append (new files only) vs a delete of f —
      // rebases automatically and equals the serial execution
      val stagedDelete = Seq.empty[TableLog.Entry]
      TableLog.append(df(1).coalesce(1), root)       // v2 lands first
      val v3 = TableLog.commitDeltaRebasing(spark, root, stagedDelete,
        Seq(f), basedOn = 1L, _ => Seq("op:delete"))
      assert(v3 == 3L, "disjoint delete must rebase to the next version")
      val survivors = TableLog.read(spark, root).select("k").as[Long]
        .collect().toSet
      val v1Rows = TableLog.read(spark, root, Some(1L)).select("k").as[Long]
        .collect().toSet
      val v2New = df(1).select("k").as[Long].collect().toSet
      assert((survivors intersect v2New) == v2New,
        "WriteSerializable: the concurrent append's rows survive the rebased delete")
      assert(survivors.subsetOf(v1Rows union v2New) && survivors != (v1Rows union v2New),
        "the delete's own file must be gone")
      // TRUE OVERLAP: an intervening compact that rewrote this writer's
      // file — the rebase must refuse with the typed conflict
      val g = TableLog.manifestEntries(spark, root)
        .filter(_.path.startsWith(f.split('/').head)).head.path
      val head = TableLog.headVersion(spark, root).get
      TableLog.compact(spark, root, targetBytes = 1L << 30) // rewrites all
      val ex = intercept[TableLog.CommitConflictException] {
        TableLog.commitDeltaRebasing(spark, root, Nil, Seq(g),
          basedOn = head, _ => Seq("op:delete"))
      }
      assert(ex.getMessage.contains("cannot rebase"), ex.getMessage)
    } finally {
      spark.conf.unset(LogStore.ConfKey)
      MemLogStore.clear()
    }
  }

  test("rebased append recomputes schema evolution against the head it lands on") {
    import spark.implicits._
    spark.conf.set(LogStore.ConfKey, classOf[ConflictOnceStore].getName)
    try {
      MemLogStore.clear()
      val root = tmp("tschemarace")
      TableLog.overwrite((1L to 10L).map(i => (i, i)).toDF("k", "v"), root) // v1
      val schemaA = org.apache.spark.sql.types.StructType(
        TableLog.schemaOf(spark, root).get.fields :+
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.LongType))
      // writer B's competing v2: an (empty) append evolving the schema
      // with column a — injected to win the CAS the moment writer A tries
      ConflictOnceStore.arm("/v2.manifest",
        s"#format:2\n#op:append\n#schema:${schemaA.json}\n")
      // writer A appends column b; its first commit loses, the rebase
      // recomputes evolution against B's head
      TableLog.append(Seq((11L, 11L, 111L)).toDF("k", "v", "b"), root)
      val head = TableLog.schemaOf(spark, root).get.fieldNames.toSeq
      assert(head == Seq("k", "v", "a", "b"),
        s"BOTH concurrent writers' columns must survive the rebase: $head")
      val rows = TableLog.read(spark, root)
      assert(rows.count() == 11L &&
        rows.filter(col("b").isNotNull).count() == 1L)
    } finally {
      spark.conf.unset(LogStore.ConfKey)
      MemLogStore.clear()
    }
  }

  test("SQL TVFs: graft_log time travel + graft_log_history as pure SQL") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val root = tmp("ttvf")
    TableLog.overwrite((1L to 10L).map(i => (i, i)).toDF("k", "v"), root)  // v1
    TableLog.append((11L to 15L).map(i => (i, i)).toDF("k", "v"), root)    // v2
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_log('$root', 1)")
      .head().getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_log('$root')")
      .head().getLong(0) == 15L)
    // composes like any relation: filters/joins/aggregates over the TVF
    assert(spark.sql(
      s"SELECT sum(v) AS s FROM graft_log('$root') WHERE k > 10")
      .head().getLong(0) == (11L to 15L).sum)
    val hist = spark.sql(
      s"SELECT version, op FROM graft_log_history('$root') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((1L, "overwrite"), (2L, "append")))
    // the change feed as SQL: v2 appended 5 new keys → 5 inserts
    val cdf = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM graft_log_cdf('$root', 1, 2, 'k') GROUP BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(cdf == Map("insert" -> 5L), s"append window = inserts only: $cdf")
    // and the relation itself is reachable from pure SQL DDL:
    // CREATE TEMPORARY VIEW ... USING graftlog (the V1 RelationProvider)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gl_ddl USING graftlog " +
      s"OPTIONS (path '$root', version '1')")
    try
      assert(spark.sql("SELECT count(*) AS n FROM gl_ddl").head().getLong(0) == 10L)
    finally spark.catalog.dropTempView("gl_ddl")
  }

  test("typed stats: token roundtrip with escaping; string truncation rounds max UP") {
    import spark.implicits._
    // roundtrip: string stat values carrying the token's structural bytes
    // (colon, tab, '=', '%') must survive manifest write → parse
    val root = tmp("ttokens")
    val nasty = Seq((1L, "a:b\tc=d%e"), (2L, "z:z\tz=z%z"))
      .toDF("k", "s")
    TableLog.overwrite(nasty.coalesce(1), root, statCols = Seq("s"))
    val e = TableLog.manifestEntries(spark, root).head
    assert(e.tstats("s") == (("s", "a:b\tc=d%e", "z:z\tz=z%z")),
      s"escaped stat values must roundtrip: ${e.tstats}")
    // truncation: min is a plain prefix (≤ everything it stands for), max
    // rounds its last code point UP (≥ everything it stands for)
    val long1 = "x" * 100
    assert(TableLog.truncMin(long1) == "x" * 64)
    assert(TableLog.truncMax(long1).contains("x" * 63 + "y"))
    // the bound must dominate ANY continuation of the prefix, in the
    // UTF8String (code point) order the comparator uses
    val continuation = "x" * 64 + "􏿿" // prefix + U+10FFFF
    assert(TableLog.typedCompare("s",
      TableLog.truncMax(long1).get, continuation) > 0,
      "rounded-up max must dominate every continuation")
    // surrogate gap: 0xD7FF rounds up to 0xE000, never into D800..DFFF
    val edge = ("x" * 63) + "퟿" + ("y" * 50)
    assert(TableLog.truncMax(edge).contains(("x" * 63) + ""))
    // an un-incrementable prefix yields NO max (always read — sound)
    val top = "􏿿".repeat(70) // 70 × U+10FFFF
    assert(TableLog.truncMax(top).isEmpty)
    // short strings stay exact
    assert(TableLog.truncMax("abc").contains("abc") &&
      TableLog.truncMin("abc") == "abc")
  }

  test("restore past a DV commit is a change window, never an append") {
    import spark.implicits._
    val root = tmp("trestdv")
    TableLog.overwrite(
      (1L to 20L).map(i => (i, i)).toDF("k", "v").coalesce(1), root) // v1
    TableLog.deleteVectors(spark, root, col("v") <= 5L)              // v2
    val v3 = TableLog.restore(spark, root, 1L)                       // v3
    // the restored entry strips the d: token IN PLACE — remove + re-add,
    // or a tail would redeliver the whole file's rows as fresh appends
    val (adds, removes) = TableLog.fileChanges(spark, root, 2L, v3)
    assert(adds.nonEmpty && removes.nonEmpty &&
      adds.map(_.path).toSet == removes.toSet,
      s"in-place restore must show in BOTH lists: adds=${adds.map(_.path)} " +
        s"removes=$removes")
    intercept[IllegalArgumentException] {
      TableLog.readAppended(spark, root, 2L, v3)
    }
    assert(TableLog.read(spark, root).count() == 20L,
      "restore must resurrect the DV-deleted rows")
  }

  test("fileChanges refuses a legacy full-snapshot manifest inside the window") {
    import spark.implicits._
    val root = tmp("tlegcdf")
    TableLog.overwrite(Seq((1L, 1L)).toDF("k", "v"), root) // v1 (format 2)
    // a hand-planted LEGACY manifest (no #format:2): it REPLACES the
    // snapshot, so no file-level delta can express it
    val store = LogStore.resolve(spark)
    assert(store.writeIfAbsent(spark,
      s"$root/_graft_log/v2.manifest", "c00000000000000000000000000000000/f.parquet\t10\n"))
    val ex = intercept[IllegalStateException] {
      TableLog.fileChanges(spark, root, 1L, 2L)
    }
    assert(ex.getMessage.contains("legacy"), ex.getMessage)
    // and so must every consumer built on it (tail, appended-rows read)
    intercept[IllegalStateException] {
      TableLog.readAppended(spark, root, 1L, 2L)
    }
  }

  test("vacuum sweeps epoch markers at or below the horizon checkpoint's epochmax") {
    import spark.implicits._
    val root = tmp("tmark")
    TableLog.overwrite(Seq((0L, 0L)).toDF("k", "v"), root)
    (1L to 5L).foreach(i =>
      TableLog.appendBatch(Seq((i, i)).toDF("k", "v"), i, root))
    val epochs = new java.io.File(s"$root/_graft_log/epochs")
    def markers() = Option(epochs.listFiles()).fold(Seq.empty[String])(
      _.map(_.getName).filter(_.startsWith("epoch-")).toSeq)
    assert(markers().size == 5, "one marker per epoch before vacuum")
    TableLog.vacuum(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(markers().isEmpty,
      "markers ≤ the horizon epochmax are redundant and must be swept")
    // exactly-once still holds from the log alone: a replayed epoch no-ops
    val before = TableLog.read(spark, root).count()
    TableLog.appendBatch(Seq((3L, 3L)).toDF("k", "v"), 3L, root)
    assert(TableLog.read(spark, root).count() == before,
      "a replayed epoch must stay a no-op after its marker was swept")
  }

  test("racing blind appends all land exactly once through the real CAS") {
    import spark.implicits._
    val root = tmp("trace")
    TableLog.overwrite(Seq(0L).toDF("k"), root) // v1
    val writers = 4; val perWriter = 5
    TableLog.rebaseTally.set(0L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val fs = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          (0 until perWriter).foreach { i =>
            val lo = (w * perWriter + i) * 10L + 100L
            TableLog.append((lo until lo + 10L).toDF("k"), root)
          }
      })
    }
    fs.foreach(_.get())
    pool.shutdown()
    // serial-equivalent state: every commit landed exactly once, the read
    // is the union of every writer's batches, and under 4-way contention
    // at least one commit actually had to rebase (the race was real)
    assert(TableLog.headVersion(spark, root).contains(1L + writers * perWriter))
    val want = (Seq(0L) ++ (0 until writers * perWriter).flatMap { j =>
      val lo = j * 10L + 100L; lo until lo + 10L
    }).sorted
    assert(TableLog.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == want)
    assert(TableLog.rebaseTally.get() > 0L,
      "4 racing writers over 20 commits should exercise the rebase path")
  }

  test("a root rebuilt at the same path in one JVM reads fresh manifests") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = tmp("trebuild")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    def build(base: Long): Unit = {
      TableLog.overwrite(Seq((base, base)).toDF("k", "v"), root)         // v1
      TableLog.append(Seq((base + 1, base + 1)).toDF("k", "v"), root)   // v2
    }
    def keys = TableLog.read(spark, root).select("k").as[Long].collect().sorted.toSeq
    def ops = TableLog.history(spark, root).collect().map(_.getString(1)).toSeq
    build(0L)
    assert(keys == Seq(0L, 1L) && ops == Seq("overwrite", "append"))
    // delete the root and rebuild it in place, as a rerun that recreates
    // its table does: every read must come from the new manifests
    val inv = TableLog.manifestCacheInvalidationTally.get
    rm(new java.io.File(root))
    build(100L)
    assert(keys == Seq(100L, 101L))
    assert(TableLog.read(spark, root, Some(1L)).select("k").as[Long]
      .collect().toSeq == Seq(100L))
    assert(TableLog.manifestCacheInvalidationTally.get > inv)
    // a same-length rewrite that bypasses the commit path (another
    // process) is caught by the (length, mtime) stamp
    assert(ops == Seq("overwrite", "append"))
    val m2 = Paths.get(s"$root/_graft_log/v2.manifest")
    val mtime = Files.getLastModifiedTime(m2).toMillis
    Files.writeString(m2, Files.readString(m2).replace("#op:append", "#op:APPEND"))
    Files.setLastModifiedTime(m2,
      java.nio.file.attribute.FileTime.fromMillis(mtime + 2000))
    assert(ops == Seq("overwrite", "APPEND"))
  }

  test("one triage: deletes touch exactly the files a filtered read plans, for every stat kind") {
    import org.apache.spark.sql.Column
    val root = tmp("ttriage")
    // every column grows with id, so range-clustering on n gives each file
    // a tight range on all of them; 8 slices × 4 sources = 32 files
    val rows = spark.range(0, 2000).select(
      col("id").as("n"), col("id").cast("int").as("i"),
      (col("id") * 0.5).as("d"),
      lpad(col("id").cast("string"), 5, "0").as("s"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      date_add(lit("2020-01-01").cast("date"), (col("id") / 10).cast("int"))
        .as("dt"),
      concat(lit("src"), (col("id") % 4).cast("string")).as("source"))
    TableLog.overwrite(rows.repartitionByRange(8, col("n")), root,
      Seq("source"), Seq("n", "i", "d", "s", "ts", "dt"))
    val all = TableLog.manifestEntries(spark, root).map(_.path).toSet
    assert(all.size == 32, s"fixture must write 32 files: ${all.size}")
    val sorted = (df: org.apache.spark.sql.DataFrame) =>
      df.select(rows.columns.toSeq.map(col): _*).collect().map(_.toString).sorted.toSeq
    // (name, predicate, must the triage skip files?)
    val cases: Seq[(String, Column, Boolean)] = Seq(
      ("partition =", col("source") === "src1", true),
      ("partition IN", col("source").isin("src1", "src2"), true),
      ("partition OR", col("source") === "src1" || col("source") === "src3", true),
      ("partition AND long", col("source") === "src2" && col("n") >= 1500L, true),
      ("partition through a function", upper(col("source")) === "SRC3", true),
      ("long range", col("n").between(500L, 700L), true),
      ("widening cast", col("i").cast("long") >= 1800L, true),
      ("double", col("d") > 800.0, true),
      ("string", col("s") < "00300", true),
      ("timestamp", col("ts") >= lit("1970-03-01 00:00:00").cast("timestamp"), true),
      ("date", col("dt") <= lit("2020-01-20").cast("date"), true),
      ("NULL literal OR range",
        col("s") === lit(null).cast("string") || col("n") < 100L, true),
      ("NULL literal", col("n") === lit(null).cast("long"), false),
      ("no derivable bound", col("n") % 7 === 0, false),
      ("underivable AND double", col("n") % 7 === 0 && col("d") <= 200.0, true))
    cases.foreach { case (name, p, prunes) =>
      TableLog.restore(spark, root, 1L) // every case starts from v1's files
      val head = TableLog.read(spark, root)
      // a plan the optimizer empties reads no file, and a delete that
      // cannot see a scan must assume every file
      val planned = PlannedFiles.paths(head.filter(p)).getOrElse(all)
      assert(!prunes || planned.size < all.size,
        s"$name: the filtered read must skip files (${planned.size} of ${all.size})")
      val holding = head.filter(p)
        .select(regexp_extract(input_file_name(), TableLog.FileKeyRegex, 1))
        .distinct().collect().map(_.getString(0)).toSet
      assert(holding.subsetOf(planned),
        s"$name: files holding matching rows were skipped: ${holding -- planned}")
      assert(TableLog.touchedBy(spark, root, TableLog.state(spark, root), p)
        .map(_.path).toSet == planned,
        s"$name: deleteVectors' triage must equal the read's planned files")
      val want = sorted(rows.filter(not(coalesce(p, lit(false)))))
      val vd = TableLog.delete(spark, root, p)
      assert(TableLog.fileChanges(spark, root, vd - 1, vd)._2.toSet == planned,
        s"$name: delete must rewrite exactly the planned files")
      assert(sorted(TableLog.read(spark, root)) == want, s"$name: delete rows")
      TableLog.restore(spark, root, 1L)
      val vv = TableLog.deleteVectors(spark, root, p)
      val dvTouched = TableLog.fileChanges(spark, root, vv - 1, vv)._2.toSet
      assert(dvTouched.subsetOf(planned) && holding.subsetOf(dvTouched),
        s"$name: deleteVectors must touch the matching files within the plan")
      assert(sorted(TableLog.read(spark, root)) == want,
        s"$name: deleteVectors rows")
    }
  }
}
