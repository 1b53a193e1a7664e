package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableLog

/** Round-16 WRITE side of `format("graftlog")`: the batch writer's four
  * save modes, pure-SQL INSERT INTO / INSERT OVERWRITE through the
  * extension rewrite (also into snapshots with deletion vectors or
  * renamed columns), the exactly-once streaming sink across checkpoint
  * restart, and the fail-loud guards for sessions without the extensions.
  * The SQL-visible semantics are the q232 oracle gate; these specs pin the
  * mode/protocol behaviors SQL cannot see.
  */
class GraftLogWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String = TestSpark.tmpDir(tag)

  test("batch writer: save modes commit through the manifest") {
    import spark.implicits._
    val root = tmp("glwmode")
    val df = (1L to 100L).map(i => (i, s"src${i % 4}", i * 3)).toDF("k", "src", "v")
    // create: partitioned layout + stats via options
    df.write.format("graftlog").mode("overwrite")
      .option("partitionBy", "src").option("stats", "v").save(root)
    assert(TableLog.headVersion(spark, root).contains(1L))
    val es1 = TableLog.manifestEntries(spark, root)
    assert(es1.forall(_.partition.contains("src")), "layout must be partitioned")
    assert(es1.forall(_.stats.contains("v")), "stat columns must be collected")
    // append via the writer adopts the layout; stats opt-in keeps skipping
    (101L to 120L).map(i => (i, s"src${i % 4}", i * 3)).toDF("k", "src", "v")
      .write.format("graftlog").mode("append").option("stats", "v").save(root)
    assert(TableLog.headVersion(spark, root).contains(2L))
    assert(TableLog.manifestEntries(spark, root).forall(_.stats.contains("v")),
      "appended files must carry the opted-in stats")
    assert(spark.read.format("graftlog").load(root)
      .select("k").as[Long].collect().sorted.toSeq == (1L to 120L))
    // overwrite on an existing table PRESERVES the recorded layout
    (1L to 30L).map(i => (i, s"src${i % 2}", i)).toDF("k", "src", "v")
      .write.format("graftlog").mode("overwrite").save(root)
    val es3 = TableLog.manifestEntries(spark, root)
    assert(es3.forall(e => e.partition.contains("src") && e.stats.contains("v")),
      s"overwrite must keep partition layout + tracked stats: ${es3.head}")
    // ErrorIfExists throws on a live table; Ignore is a no-op
    intercept[IllegalStateException] {
      df.write.format("graftlog").mode("errorifexists").save(root)
    }
    val head = TableLog.headVersion(spark, root)
    df.write.format("graftlog").mode("ignore").save(root)
    assert(TableLog.headVersion(spark, root) == head, "Ignore must not commit")
    assert(spark.read.format("graftlog").load(root).count() == 30L)
  }

  test("SQL INSERT INTO / INSERT OVERWRITE commit through the log, not raw files") {
    import spark.implicits._
    val root = tmp("glwsql")
    (1L to 50L).map(i => (i, i * 2)).toDF("k", "v")
      .write.format("graftlog").option("stats", "v").save(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW glw_t " +
      s"USING graftlog OPTIONS (path '$root')")
    spark.sql("INSERT INTO glw_t SELECT id AS k, id * 2 AS v " +
      "FROM range(51, 101)")
    // one new VERSION, zero unmanifested files
    assert(TableLog.headVersion(spark, root).contains(2L))
    // the temp view PINNED its snapshot at creation (snapshot-at-analysis
    // — V1 temp views store the resolved relation): it still serves v1.
    // Fresh resolution — a new load, a re-created view, or the graft_log
    // TVF — sees the committed insert.
    assert(spark.sql("SELECT k FROM glw_t").as[Long].collect().sorted.toSeq ==
      (1L to 50L))
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql(s"SELECT k FROM graft_log('$root')")
      .as[Long].collect().sorted.toSeq == (1L to 100L))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val onDisk = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".parquet") && !p.contains("_graft_log")) b += p
      }
      b.result()
    }
    val manifested = TableLog.manifestEntries(spark, root).map(_.path).toSet
    assert(onDisk.forall(p => manifested.exists(p.endsWith)),
      s"every data file on disk must be manifest-tracked:\n$onDisk\n$manifested")
    // INSERT OVERWRITE replaces the snapshot as version 3, keeping stats
    spark.sql("INSERT OVERWRITE glw_t SELECT id AS k, id AS v FROM range(1, 11)")
    assert(TableLog.headVersion(spark, root).contains(3L))
    assert(spark.sql(s"SELECT sum(k) FROM graft_log('$root')")
      .as[Long].head() == 55L)
    assert(TableLog.manifestEntries(spark, root).forall(_.stats.contains("v")),
      "INSERT OVERWRITE must re-collect the tracked stats")
    // time travel still serves the pre-overwrite snapshot
    assert(TableLog.read(spark, root, Some(2L)).count() == 100L)
  }

  test("INSERT INTO DV-carrying or renamed views goes through GraftLogInsertRewrite") {
    import spark.implicits._
    // a raw file insert would throw (GraftLogParquetFormat refuses
    // writes), so one new committed version is the manifest commit
    def insertInto(view: String, root: String, sql: String): Unit = {
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
        s"USING graftlog OPTIONS (path '$root')")
      val before = TableLog.headVersion(spark, root).get
      spark.sql(sql)
      assert(TableLog.headVersion(spark, root).contains(before + 1))
    }
    def keys(root: String) = spark.read.format("graftlog").load(root)
      .select("k").as[Long].collect().sorted.toSeq
    // inline-eligible deletion vectors (the default cap)
    val root = tmp("glwdv")
    (1L to 40L).toDF("k").write.format("graftlog").save(root)
    TableLog.deleteVectors(spark, root, col("k") > 30L)
    insertInto("glw_dv", root,
      "INSERT INTO glw_dv SELECT id AS k FROM range(100, 105)")
    assert(keys(root) == ((1L to 30L) ++ (100L to 104L)))
    // over-cap deletion vectors: the same route, the read an anti-join
    val over = tmp("glwdvcap")
    (1L to 40L).toDF("k").write.format("graftlog").save(over)
    TableLog.deleteVectors(spark, over, col("k") > 30L)
    spark.conf.set(TableLog.DvInlineMaxPositionsKey, "1")
    try {
      insertInto("glw_dvcap", over,
        "INSERT INTO glw_dvcap SELECT id AS k FROM range(100, 105)")
      assert(keys(over) == ((1L to 30L) ++ (100L to 104L)))
    } finally spark.conf.unset(TableLog.DvInlineMaxPositionsKey)
    // a renamed column: the insert is positional over LOGICAL names and
    // lands under the physical one
    val mapped = tmp("glwmap")
    (1L to 10L).map(i => (i, i * 2)).toDF("k", "v")
      .write.format("graftlog").save(mapped)
    TableLog.renameColumn(spark, mapped, "v", "w")
    insertInto("glw_map", mapped,
      "INSERT INTO glw_map SELECT id AS k, id * 2 AS w FROM range(11, 13)")
    val got = spark.read.format("graftlog").load(mapped)
    assert(got.columns.toSeq == Seq("k", "w"))
    assert(got.as[(Long, Long)].collect().sorted.toSeq ==
      (1L to 12L).map(i => (i, i * 2)))
  }

  test("streaming sink: exactly-once across checkpoint restart, stats ride along") {
    import spark.implicits._
    val root = tmp("glwsink")
    val ckpt = tmp("glwsinkckpt")
    val in = MemoryStream[Long](spark, 1)
    def start() = in.toDF().toDF("k")
      .writeStream.format("graftlog")
      .option("checkpointLocation", ckpt)
      .option("stats", "k")
      .start(root)
    val q1 = start()
    try {
      in.addData(1L to 10L: _*); q1.processAllAvailable()
      in.addData(11L to 20L: _*); q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.format("graftlog").load(root)
      .select("k").as[Long].collect().sorted.toSeq == (1L to 20L))
    // restart on the same checkpoint: the recovered epoch must not
    // re-commit; only new data lands
    val q2 = start()
    try {
      in.addData(21L to 25L: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.format("graftlog").load(root)
      .select("k").as[Long].collect().sorted.toSeq == (1L to 25L),
      "restart must deliver exactly-once (no duplicated epochs)")
    assert(TableLog.manifestEntries(spark, root).forall(_.stats.contains("k")),
      "sink batches must carry the opted-in stats")
    // non-append output modes are refused with a typed error
    val agg = in.toDF().toDF("k").groupBy(col("k") % 2).count()
    val ex = intercept[IllegalArgumentException] {
      agg.writeStream.format("graftlog").outputMode("complete")
        .option("checkpointLocation", tmp("glwsinkbad")).start(tmp("glwbadroot"))
    }
    assert(ex.getMessage.contains("append-only"))
  }

  test("catalog tables: CREATE TABLE USING graftlog, CTAS, INSERT through the catalog") {
    import spark.implicits._
    val root = tmp("glwcat")
    try {
      // CTAS: CREATE TABLE ... USING graftlog AS SELECT goes through the
      // writer's ErrorIfExists mode and records v1
      spark.sql(s"CREATE TABLE glw_ctas USING graftlog LOCATION '$root' " +
        "AS SELECT id AS k, id * 2 AS v FROM range(1, 51)")
      assert(TableLog.headVersion(spark, root).contains(1L))
      assert(spark.table("glw_ctas").count() == 50L)
      // INSERT INTO the CATALOG table routes through the same analyzer
      // rewrite as the temp-view path — a manifest commit, never raw files
      spark.sql("INSERT INTO glw_ctas SELECT id AS k, id * 2 AS v " +
        "FROM range(51, 61)")
      assert(TableLog.headVersion(spark, root).contains(2L))
      graft.functions.GraftFunctions.register(spark)
      assert(spark.sql(s"SELECT k FROM graft_log('$root')")
        .as[Long].collect().sorted.toSeq == (1L to 60L))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val manifested = TableLog.manifestEntries(spark, root).map(_.path).toSet
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".parquet") && !p.contains("_graft_log"))
          assert(manifested.exists(p.endsWith),
            s"catalog insert left an unmanifested file: $p")
      }
    } finally spark.sql("DROP TABLE IF EXISTS glw_ctas")
  }

  test("maintenance DML TVFs: delete_dv, restore, compact, vacuum from pure SQL") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val root = tmp("glwdml")
    (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
      .write.format("graftlog").option("stats", "v").save(root)        // v1
    // DV delete: zero rewrite, version 2
    val v2 = spark.sql(s"SELECT version FROM graft_log_delete_dv('$root', " +
      "'k > 90')").as[Long].head()
    assert(v2 == 2L)
    assert(spark.sql(s"SELECT count(*) FROM graft_log('$root')")
      .as[Long].head() == 90L)
    // restore to v1 as v3
    val v3 = spark.sql(s"SELECT version FROM graft_log_restore('$root', 1)")
      .as[Long].head()
    assert(v3 == 3L)
    assert(spark.sql(s"SELECT count(*) FROM graft_log('$root')")
      .as[Long].head() == 100L)
    // compact everything into one file as v4
    val v4 = spark.sql(
      s"SELECT version FROM graft_log_compact('$root', ${1L << 30})")
      .as[Long].head()
    assert(v4 == 4L)
    assert(TableLog.manifestEntries(spark, root).size == 1)
    // vacuum to the head; old manifests swept, head intact
    assert(spark.sql(s"SELECT version FROM graft_log_vacuum('$root', 1)")
      .as[Long].head() == 4L)
    assert(spark.sql(s"SELECT count(*) FROM graft_log('$root')")
      .as[Long].head() == 100L)
  }

  test("a session without the extensions fails loudly instead of corrupting") {
    val fmt = new graft.sources.GraftLogParquetFormat
    val ex = intercept[UnsupportedOperationException] {
      fmt.prepareWrite(spark,
        org.apache.hadoop.mapreduce.Job.getInstance(
          spark.sessionState.newHadoopConf()),
        Map.empty, new org.apache.spark.sql.types.StructType)
    }
    assert(ex.getMessage.contains("commit log"))
    // READ side: a snapshot with deletion vectors or renamed columns must
    // never be scanned bare (deleted rows back, NULL renamed columns) —
    // its marked index refuses to list files unless the extension's
    // rewrite replaced it first
    import spark.implicits._
    val root = tmp("glwnoext")
    (1L to 10L).toDF("k").write.format("graftlog").save(root)
    TableLog.deleteVectors(spark, root, col("k") > 5L)
    def bareListing() = graft.sources.GraftLog.batchRelation(spark, root, None)
      .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.listFiles(Nil, Nil)
    val dvEx = intercept[UnsupportedOperationException](bareListing())
    assert(dvEx.getMessage.contains("graft.GraftExtensions"), dvEx.getMessage)
    TableLog.compact(spark, root, targetBytes = 1L << 30)
    assert(bareListing().nonEmpty, "a plain snapshot lists its files")
    TableLog.renameColumn(spark, root, "k", "key")
    val cmEx = intercept[UnsupportedOperationException](bareListing())
    assert(cmEx.getMessage.contains("graft.GraftExtensions"), cmEx.getMessage)
  }
}
