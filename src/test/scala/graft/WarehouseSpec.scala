package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warehouse

/** Bucketed tables must (a) produce identical join results and (b) remove
  * every Exchange from the equi-join plan — the co-located join that makes
  * repeated big joins shuffle-free at scale.
  */
class WarehouseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucketed orders ⋈ customer joins with zero exchanges, same result") {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val customer = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    Warehouse.writeBucketed(orders, "wh_orders", "o_custkey", 8)
    Warehouse.writeBucketed(customer.withColumnRenamed("c_custkey", "o_custkey"),
      "wh_customer", "o_custkey", 8)
    try {
      val a = Warehouse.read(spark, "wh_orders")
      val b = Warehouse.read(spark, "wh_customer")
      // AQE would broadcast this small side and hide the bucketing effect;
      // merge-join hint keeps the plan in sort-merge so the assertion is on
      // the bucket co-location itself
      val joined = a.hint("merge").join(b, Seq("o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must have no shuffle, got:\n$plan")
      val viaBuckets = joined.groupBy(col("c_name")).agg(sum(col("o_totalprice")).as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val naive = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
        .groupBy(col("c_name")).agg(sum(col("o_totalprice")).as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(viaBuckets.nonEmpty && viaBuckets == naive)
    } finally {
      spark.sql("DROP TABLE IF EXISTS wh_orders")
      spark.sql("DROP TABLE IF EXISTS wh_customer")
    }
  }

  test("partitioned table prunes directories at the scan for partition-key filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/events"
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Warehouse.writePartitioned(events, dir, Seq("event_type"))
    val q = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("event_type"),
      s"partition-key filter must reach PartitionFilters, got: $scan")
    // pruning must not change results vs the unpartitioned read
    assert(q.count() == events.filter(col("event_type") === "click").count())
    // and a partition column round-trips (moved to directory, read back)
    assert(q.columns.contains("event_type"))
  }

  test("z-ordered compaction: 2-d box predicates skip most files on footer stats") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val path = s"$root/grid"
    // 40k rows on a 200x200 grid, written in shuffled (locality-free) order
    val grid = (0 until 40000).map { i => (i.toLong, (i % 200).toLong, (i / 200).toDouble) }
    scala.util.Random.shuffle(grid).toDF("id", "x", "y")
      .repartition(16).write.mode("overwrite").parquet(path)
    val want = spark.read.parquet(path).collect().map(_.toString).sorted
    Warehouse.compactZOrdered(spark, path, "x", "y", targetBytes = 16L << 10)
    val got = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(got.sameElements(want), "z-order compaction must not change the data")
    // per-file footer-equivalent ranges on BOTH dimensions
    val perFile = spark.read.parquet(path)
      .select(input_file_name().as("f"), col("x"), col("y"))
      .groupBy(col("f")).agg(
        min(col("x")).as("xlo"), max(col("x")).as("xhi"),
        min(col("y")).as("ylo"), max(col("y")).as("yhi"))
      .collect()
    assert(perFile.length >= 8, s"need several files, got ${perFile.length}")
    // a small 2-d box (10% of each axis): most files' min/max boxes miss it
    val hit = perFile.count { r =>
      !(r.getAs[Long]("xhi") < 60L || r.getAs[Long]("xlo") > 80L ||
        r.getAs[Double]("yhi") < 60.0 || r.getAs[Double]("ylo") > 80.0)
    }
    assert(hit <= perFile.length / 2,
      s"z-clustering must localize a 2-d box: $hit of ${perFile.length} files intersect")
  }

  test("compact collapses a fragmented sink directory without changing data") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$root/events_sink"
    // simulate 5 micro-batch appends x 20 tasks = 100 tiny files
    val df = Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("value"))
    (0 until 5).foreach(_ => df.repartition(20).write.mode("append").parquet(path))
    def parquetFiles() = Option(new java.io.File(path).listFiles())
      .get.count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before >= 100, s"fixture must be fragmented, got $before files")
    val want = spark.read.parquet(path).collect().map(_.toString).sorted
    Warehouse.compact(spark, path, targetBytes = 64L << 20)
    val afterFiles = parquetFiles()
    assert(afterFiles < before / 10, s"compaction must collapse files: $before -> $afterFiles")
    val got = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(got.sameElements(want), "compaction must not change the data")
    // range-clustered variant: files carry tight, non-overlapping event_id
    // ranges so footer min/max stats skip files on point/range filters
    Warehouse.compact(spark, path, targetBytes = 1L << 18, sortCol = Some("event_id"))
    val got2 = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(got2.sameElements(want), "range compaction must not change the data")
    val perFile = spark.read.parquet(path)
      .select(col("event_id"), input_file_name().as("f"))
      .groupBy(col("f")).agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).sortBy(_._1)
    if (perFile.length > 1) {
      perFile.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges must not overlap: $hi1 vs $lo2")
      }
    }
  }

  test("compaction plan + execution over real parquet footers") {
    val root = java.nio.file.Files.createTempDirectory("graft_cplan").toString
    val path = s"$root/docs_sink"
    val docs = Tables.load(spark, dir, "documents")
    // 24 small files plus one coalesced large one appended after — the
    // mixed manifest a real micro-batch sink accumulates
    docs.repartition(24).write.mode("overwrite").parquet(path)
    docs.union(docs).union(docs).coalesce(1).write.mode("append").parquet(path)
    val manifest = Warehouse.fileManifest(spark, path)
    val files = manifest.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(files.length >= 25)
    assert(files.forall(_._2 == ""), "flat layout must manifest as partition ''")
    val sizes = files.map(_._4)
    // target between the small-file and big-file footer sizes
    val target = sizes.max / 2
    assert(sizes.count(_ >= target) >= 1 && sizes.count(_ < target) >= 24,
      s"fixture must have both keeps and rewrites at target=$target: ${sizes.sorted.toSeq}")
    val outPath = s"$root/compacted"
    val plan = Warehouse.compactByPlan(spark, path, target, outPath)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getLong(4)))
    // plan shape: every file decided once; keeps are exactly the >= target
    // ones; rewrite bins dense from 0; no bin over 2x target
    assert(plan.length == files.length)
    assert(plan.filter(_._3 == "keep").map(_._1).toSet ==
      files.filter(_._4 >= target).map(_._1).toSet)
    val bins = plan.filter(_._3 == "rewrite").groupBy(_._4)
      .map { case (b, fs) => (b, fs.map(_._2).sum) }
    assert(bins.keySet == (0L until bins.size).toSet, s"bins not dense: ${bins.keySet}")
    assert(bins.values.forall(_ < 2 * target),
      s"bin over 2x target: ${bins.values.max} vs $target")
    // exact bin-count law: floor((sum - last_file_bytes)/target) + 1 — NOT
    // floor(sum/target)+1, which is off by one when sum is an exact
    // multiple of target (footer sizes are measured, not controlled)
    val small = files.filter(_._4 < target).sortBy(_._1)
    val maxExcl = small.map(_._4).sum - small.last._4
    assert(bins.size == maxExcl / target + 1)
    // execution: a UNIFORM flat layout — one compacted-<bin>.parquet per
    // bin next to the kept files, readable as ONE parquet table
    val outFiles = Option(new java.io.File(outPath).listFiles()).get
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val compacted = outFiles.filter(_.getName.startsWith("compacted-"))
    assert(compacted.length == bins.size,
      s"one file per bin: ${compacted.length} vs ${bins.size}")
    assert(compacted.forall(_.length() > 0))
    assert(outFiles.length - compacted.length == plan.count(_._3 == "keep"))
    val want = spark.read.parquet(path).collect().map(_.toString).sorted
    val got = spark.read.parquet(outPath).collect().map(_.toString).sorted
    assert(got.sameElements(want), "compaction must preserve data, one-table read")
  }

  test("partitioned compaction: bins scoped per partition, layout preserved") {
    val root = java.nio.file.Files.createTempDirectory("graft_cpart").toString
    val path = s"$root/docs_part"
    val docs = Tables.load(spark, dir, "documents")
    // hive-partitioned micro-batch-sink shape: many small files per
    // source=... dir, plus one pre-coalesced big file in src0
    docs.repartition(8).write.partitionBy("source")
      .mode("overwrite").parquet(path)
    docs.filter(col("source") === "src0").union(
        docs.filter(col("source") === "src0"))
      .coalesce(1).write.partitionBy("source").mode("append").parquet(path)
    val manifest = Warehouse.fileManifest(spark, path)
    val rows = manifest.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty, "recursive manifest must see partitioned leaves")
    assert(rows.forall(_._2.startsWith("source=")),
      s"partition col must be the relative dir: ${rows.take(3).toSeq}")
    val target = rows.map(_._4).max / 2
    val outPath = s"$root/compacted"
    val plan = Warehouse.compactByPlan(spark, path, target, outPath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3), r.getLong(4)))
    // bins dense from 0 WITHIN each partition — never shared across
    plan.filter(_._3 == "rewrite").groupBy(_._2).foreach { case (p, fs) =>
      val bs = fs.map(_._4).toSet
      assert(bs == (0L until bs.size).toSet, s"$p bins not dense: $bs")
    }
    // layout preserved: same partition dirs, compacted files inside them
    val parts = rows.map(_._2).distinct.sorted
    parts.foreach { p =>
      val d = new java.io.File(s"$outPath/$p")
      assert(d.isDirectory, s"partition dir $p must survive compaction")
      assert(d.listFiles().exists(_.getName.endsWith(".parquet")))
    }
    // one-table read, hive partition column intact, data preserved
    val want = spark.read.parquet(path).collect().map(_.toString).sorted
    val got = spark.read.parquet(outPath).collect().map(_.toString).sorted
    assert(got.sameElements(want), "partitioned compaction must preserve data")
  }

  test("repeated compaction cycles: prior compacted keeps never alias new bins") {
    // cycle 1 output holds compacted-* files; cycle 2 sees them as KEEPS
    // next to freshly ingested small files — the keep copy must not
    // clobber (or be clobbered by) cycle 2's bin files (review finding:
    // the pre-fix naming lost a whole bin silently on this exact path)
    val root = java.nio.file.Files.createTempDirectory("graft_ccycle").toString
    val docs = Tables.load(spark, dir, "documents")
    docs.repartition(12).write.mode("overwrite").parquet(s"$root/gen0")
    val target = Warehouse.fileManifest(spark, s"$root/gen0")
      .agg(max(col("bytes"))).head().getLong(0) * 6 // all small -> bins
    Warehouse.compactByPlan(spark, s"$root/gen0", target, s"$root/gen1")
    // new micro-batch appends land next to the compacted keeps
    docs.limit(100).repartition(8).write.mode("append").parquet(s"$root/gen1")
    val want = spark.read.parquet(s"$root/gen1").count()
    // cycle-2 target sized so the prior compacted files are KEEPS and the
    // appended micro-batch files are rewrites — the collision regime
    val gen1 = Warehouse.fileManifest(spark, s"$root/gen1").collect()
      .map(r => (r.getString(2), r.getLong(3)))
    val target2 = gen1.filter(_._1.startsWith("compacted-")).map(_._2).min
    assert(gen1.filter(!_._1.startsWith("compacted-")).forall(_._2 < target2),
      "appended files must be small enough to rewrite")
    val plan2 = Warehouse.compactByPlan(spark, s"$root/gen1", target2,
      s"$root/gen2").collect()
    assert(plan2.exists(_.getString(3) == "keep") &&
      plan2.exists(_.getString(3) == "rewrite"), "both actions must occur")
    val got = spark.read.parquet(s"$root/gen2").count()
    assert(got == want, s"second cycle lost rows: $got vs $want")
  }

  test("fileManifest excludes hidden/temp dirs — crashed-write data never resurrects") {
    // a crashed Spark write leaves _temporary/<attempt>/ task files that
    // spark.read ignores; the recursive manifest must ignore them the same
    // way or compactByPlan copies uncommitted (duplicate) task data into
    // its output (round-13 advice, medium)
    val root = java.nio.file.Files.createTempDirectory("graft_hidden").toString
    val path = s"$root/t"
    val docs = Tables.load(spark, dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(path)
    val real = Warehouse.fileManifest(spark, path).count()
    // plant a crashed write's _temporary leaf, a stale staging dir and a
    // dot-dir, each holding a REAL parquet file (copied from the table)
    val aPart = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    for (d <- Seq("_temporary/0/attempt_1/", "__compact_staging/__bin=0/",
        ".hidden/")) {
      val dd = new java.io.File(s"$path/$d"); dd.mkdirs()
      java.nio.file.Files.copy(aPart.toPath,
        new java.io.File(dd, "part-phantom.parquet").toPath)
    }
    // and a dot-FILE next to the real parts
    java.nio.file.Files.copy(aPart.toPath,
      new java.io.File(s"$path/.part-crc-like.parquet").toPath)
    val m = Warehouse.fileManifest(spark, path)
    assert(m.count() == real, "hidden/temp files must not be manifested")
    assert(m.collect().forall(r => !r.getString(2).contains("phantom")))
    // end-to-end: compaction over the poisoned dir equals spark.read
    val out = s"$root/out"
    Warehouse.compactByPlan(spark, path, 1L << 30, out)
    assert(spark.read.parquet(out).count() == spark.read.parquet(path).count(),
      "compaction must carry exactly the committed rows")
  }

  test("compactByPlan survives bins that legally write multiple files") {
    // spark.sql.files.maxRecordsPerFile makes a single-bin task write 2+
    // parquet files — a valid rewrite that the pre-fix arity require failed
    // AFTER the job ran (round-13 advice, low)
    val root = java.nio.file.Files.createTempDirectory("graft_multi").toString
    val path = s"$root/t"
    val docs = Tables.load(spark, dir, "documents")
    docs.repartition(8).write.mode("overwrite").parquet(path)
    val want = spark.read.parquet(path).collect().map(_.toString).sorted
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "50") // docs is 500 rows -> every bin splits
    try {
      val out = s"$root/out"
      Warehouse.compactByPlan(spark, path, 1L << 30, out) // all files -> one bin
      val outFiles = new java.io.File(out).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .filter(_.getName.startsWith("compacted-"))
      assert(outFiles.length >= 2,
        s"fixture must actually split the bin: ${outFiles.length} files")
      val got = spark.read.parquet(out).collect().map(_.toString).sorted
      assert(got.sameElements(want), "multi-file bins must preserve data")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("partitioned planner over one partition equals the flat two-pass planner") {
    import spark.implicits._
    // hash-scattered sizes around the target: keeps and rewrites both hit
    val files = (0L until 500L).map(i => (i, (i * 2654435761L % 4096L) + 1L))
      .toDF("file_id", "bytes")
    val flat = Warehouse.compactionPlan(files, col("file_id"), col("bytes"),
        targetBytes = 2000L)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sorted
    val part = Warehouse.compactionPlanPartitioned(
        files.withColumn("p", lit("")), col("file_id"), col("p"),
        col("bytes"), targetBytes = 2000L)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4))).sorted
    assert(flat.sameElements(part),
      "one-partition window form must reproduce the two-pass prefix-sum bins")
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

  test("mergeUpsertPartitioned rewrites only touched partitions; epoch replay no-ops") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val basePath = s"$root/state"
    val base = Seq((1L, "a", 10L, 1L), (2L, "a", 20L, 1L), (3L, "b", 30L, 1L),
      (5L, "c", 50L, 1L)).toDF("k", "part", "v", "seq")
    base.write.partitionBy("part").parquet(basePath)
    def filesOf(p: String): Map[String, (Long, Long)] =
      Option(new java.io.File(s"$basePath/part=$p").listFiles()).get
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val bBefore = filesOf("b"); val cBefore = filesOf("c")
    // updates touch only partition a (update k=2, insert k=7)
    val updates = Seq((2L, "a", 99L, 2L), (7L, "a", 70L, 2L))
      .toDF("k", "part", "v", "seq")
    Warehouse.mergeUpsertBatch(updates, 0L, basePath, Seq("k"), "seq", "part",
      s"$root/ledger")
    // untouched partitions byte-identical (same files, sizes, mtimes)
    assert(filesOf("b") == bBefore, "partition b must not be rewritten")
    assert(filesOf("c") == cBefore, "partition c must not be rewritten")
    val got = spark.read.parquet(basePath)
      .select(col("k"), col("v"), col("seq")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 10L, 1L), (2L, 99L, 2L), (3L, 30L, 1L),
      (5L, 50L, 1L), (7L, 70L, 2L)))
    // epoch replay: same batchId no-ops (ledger marker), nothing changes
    val aAfter = filesOf("a")
    Warehouse.mergeUpsertBatch(updates, 0L, basePath, Seq("k"), "seq", "part",
      s"$root/ledger")
    assert(filesOf("a") == aAfter, "replayed epoch must no-op on the ledger")
    // a NEW epoch with the same content is idempotent by merge semantics
    Warehouse.mergeUpsertBatch(updates, 1L, basePath, Seq("k"), "seq", "part",
      s"$root/ledger")
    val got2 = spark.read.parquet(basePath)
      .select(col("k"), col("v"), col("seq")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got2.toSeq == got.toSeq, "re-merging the same updates must converge")
  }

  test("mergeUpsertStream: micro-batched updates maintain the base table end-to-end") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mstream").toString
    val basePath = s"$root/state"
    Seq((1L, "a", 10L, 1L), (2L, "b", 20L, 1L))
      .toDF("k", "part", "v", "seq").write.partitionBy("part").parquet(basePath)
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, Long)]
    val q = graft.sources.Warehouse.mergeUpsertStream(
      mem.toDF().toDF("k", "part", "v", "seq"), basePath, Seq("k"), "seq",
      "part", s"$root/ckpt", s"$root/ledger")
    try {
      mem.addData((1L, "a", 11L, 2L)) // update k=1
      q.processAllAvailable()
      mem.addData((3L, "c", 30L, 2L)) // insert new key, new partition
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(basePath)
      .select(col("k"), col("v"), col("seq")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 11L, 2L), (2L, 20L, 1L), (3L, 30L, 2L)))
    // one ledger marker per committed epoch
    val markers = Option(new java.io.File(s"$root/ledger").listFiles())
      .get.map(_.getName).filter(_.startsWith("epoch-")).sorted
    assert(markers.length == 2, s"epoch markers: ${markers.toSeq}")
  }

  test("TableLog: rename-is-the-commit, stray tmp ignored, CAS loser throws") {
    import graft.sources.TableLog
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tlog").toString
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
    val root = java.nio.file.Files.createTempDirectory("graft_tlogc").toString
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
    val root = java.nio.file.Files.createTempDirectory("graft_tlogv").toString
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
    val root = java.nio.file.Files.createTempDirectory("graft_tlogs").toString
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
    val root = java.nio.file.Files.createTempDirectory("graft_tskip").toString
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
    val root = java.nio.file.Files.createTempDirectory("graft_tdel").toString
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
