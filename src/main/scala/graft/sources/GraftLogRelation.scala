package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, PlanExpression, Predicate}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The MANIFEST-FED Spark relation over a [[TableLog]] snapshot — the
  * production integration point that retires the two documented seams of
  * the pre-round-15 read path:
  *
  *  - a partitioned snapshot used to plan ONE UNION BRANCH PER DISTINCT
  *    PARTITION VALUE (each branch a separate parquet relation with the
  *    value attached as a literal). Sound, but a 10k-partition table built
  *    a 10k-way union plan. Now every snapshot — flat or partitioned — is
  *    ONE [[HadoopFsRelation]] whose [[GraftLogFileIndex]] is fed straight
  *    from manifest entries: partition values become real partition
  *    columns of the scan (typed from the recorded schema), so Catalyst's
  *    own partition pruning, filter pushdown and whole-stage codegen all
  *    engage exactly as on a native parquet table.
  *  - file listing is GONE from the read path entirely: the index answers
  *    `listFiles` from the manifest (zero filesystem calls — sizes ride in
  *    the entries), which at 100 TB is the difference between planning a
  *    scan in manifest-read time and stat-ing a million files.
  *
  * Both pruning layers run INSIDE `listFiles`, invisible to the user:
  * partition filters are evaluated against the typed partition row
  * (Catalyst `Predicate` over the manifest values — no directory walked),
  * and data filters are turned into per-column bounds by one conservative
  * walker ([[TableLog.predicateBounds]]) and matched against the
  * manifest's per-file min/max stats. A plain
  * `df.filter(col("n_chars") > 150)` therefore skips whole files at the
  * PLANNING layer. This index is the table log's ONLY file-skip decision:
  * [[TableLog.delete]] and [[TableLog.deleteVectors]] plan the predicate's
  * read and touch exactly the files its scan lists
  * ([[GraftLogFileIndex.plannedEntries]]).
  *
  * Registered as `format("graftlog")` ([[GraftLogSourceProvider]]): batch
  * reads via `spark.read.format("graftlog").option("version", v).load(root)`,
  * incremental consumption via `spark.readStream.format("graftlog")` —
  * [[GraftLogSource]], the versions-as-offsets micro-batch source that
  * retired the driver-side MemoryStream bridge.
  *
  * A snapshot with DELETION VECTORS or a COLUMN MAPPING is still this one
  * relation, exposing the logical table schema, but its index carries the
  * snapshot's [[TableLog.EntryRead]] as `read`: [[GraftLogReadRewrite]]
  * replaces every occurrence of such a relation with the read that
  * [[TableLog]] plans for it, and the index refuses to list files for a
  * session that never ran the rule.
  */
private[graft] class GraftLogFileIndex(
    spark: SparkSession, val root: String, val entries: Seq[TableLog.Entry],
    override val partitionSchema: StructType,
    val read: Option[TableLog.EntryRead] = None)
  extends FileIndex {

  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val rootPath = {
    val p = new Path(root)
    p.getFileSystem(hadoopConf).makeQualified(p)
  }
  private lazy val fs = rootPath.getFileSystem(hadoopConf)

  override def rootPaths: Seq[Path] = Seq(rootPath)

  /** One group per distinct partition value: the typed partition row plus
    * the group's (entry, status) pairs. Built ONCE from the manifest —
    * statuses come from manifest bytes (the only filesystem touch is a
    * one-time size lookup for legacy entries missing bytes), so repeated
    * listFiles calls across plannings never stat a file again.
    */
  private lazy val groups
      : Seq[(InternalRow, Seq[(TableLog.Entry, FileStatus)])] =
    entries.groupBy(_.partition).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (pvals, es) =>
        val row = InternalRow.fromSeq(
          partitionSchema.fields.toSeq.map(f => typedValue(pvals(f.name), f.dataType)))
        (row, es.map(e => (e, status(e))))
      }

  private def typedValue(raw: String, dt: DataType): Any =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else {
      val s = UTF8String.fromString(TableLog.unescapePath(raw))
      if (dt == StringType) s
      else Cast(Literal(s, StringType), dt,
        Option(spark.sessionState.conf.sessionLocalTimeZone)).eval()
    }

  private def status(e: TableLog.Entry): FileStatus = {
    val p = new Path(rootPath, e.path)
    val len = e.bytes.getOrElse(fs.getFileStatus(p).getLen)
    new FileStatus(len, false, 1, 128L << 20, 0L, p)
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (read.nonEmpty) throw new UnsupportedOperationException(
      s"the graftlog snapshot at $root has deletion vectors or renamed " +
        "columns, which a bare file scan would ignore: install " +
        "graft.GraftExtensions (spark.sql.extensions) so the read plans " +
        "through TableLog, or read it with TableLog.read")
    select(partitionFilters, dataFilters).collect {
      case (row, es) if es.nonEmpty => PartitionDirectory(row, es.map(_._2).toArray)
    }
  }

  /** The groups, and within them the files, a scan with this filter split
    * can touch. Partition filters evaluate against the typed partition row;
    * data filters become conservative per-column bounds matched against
    * each file's recorded (min, max). A file with no stat of the bound's
    * kind on a bounded column is always kept — skipping stays sound.
    */
  private def select(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression])
      : Seq[(InternalRow, Seq[(TableLog.Entry, FileStatus)])] = {
    val kept =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) groups
      else boundPredicate(partitionFilters) match {
        case None => groups
        case Some(pred) => groups.filter { case (row, _) => pred.eval(row) }
      }
    val bounds = dataFilters.reduceOption(And).map(e =>
      try TableLog.predicateBounds(e) catch { case NonFatal(_) => Map.empty })
      .getOrElse(Map.empty)
    if (bounds.isEmpty) kept
    else kept.map { case (row, es) =>
      (row, es.filterNot { case (e, _) =>
        bounds.exists { case (c, b) => disjoint(e, c, b) } })
    }
  }

  /** File `e`'s recorded (min, max) on `c` provably misses bound `b`: long
    * stats for kind `l`, typed stats of the same kind otherwise. No stat of
    * that kind never skips.
    */
  private def disjoint(e: TableLog.Entry, c: String,
      b: (String, Option[String], Option[String])): Boolean = {
    val (kind, lo, hi) = b
    val stat =
      if (kind == "l")
        e.stats.get(c).map { case (mn, mx) => (mn.toString, mx.toString) }
      else e.tstats.get(c).collect { case (k, mn, mx) if k == kind => (mn, mx) }
    stat.exists { case (mn, mx) =>
      lo.exists(TableLog.typedCompare(kind, mx, _) < 0) ||
        hi.exists(TableLog.typedCompare(kind, mn, _) > 0)
    }
  }

  /** Bind the filters' attributes to partition-row ordinals and build an
    * interpreted predicate; None (no pruning — sound) when a filter holds
    * anything unbindable (e.g. a runtime subquery this index never sees).
    */
  private def boundPredicate(filters: Seq[Expression]) =
    try {
      val fields = partitionSchema.fields
      val bound = filters.reduce(And).transform {
        case a: AttributeReference =>
          val i = fields.indexWhere(_.name == a.name)
          require(i >= 0, s"partition filter references non-partition column ${a.name}")
          BoundReference(i, fields(i).dataType, nullable = true)
      }
      val p = Predicate.createInterpreted(bound)
      p.initialize(0)
      Some(p)
    } catch { case NonFatal(_) => None }

  override def inputFiles: Array[String] =
    entries.map(e => new Path(rootPath, e.path).toString).toArray

  override def refresh(): Unit = ()

  /** True bytes, NEVER an undercount: legacy bare-manifest entries carry no
    * recorded size, so summing only `entries.flatMap(_.bytes)` reported ~0
    * for a legacy-heavy table and the join planner could auto-BROADCAST a
    * huge graftlog side. `groups` already resolves a FileStatus per entry
    * (manifest bytes when recorded, one lazy stat for legacy), so the size
    * the planner sees is the size the scan will read.
    */
  override def sizeInBytes: Long =
    math.max(1L, groups.iterator.flatMap(_._2).map(_._2.getLen).sum)
}

private[graft] object GraftLogFileIndex {

  /** The entries `df`'s graftlog file scan would read: the scan's own
    * static partition/data filter split, listed by its index (the filters
    * a runtime subquery carries are dropped, as the scan itself does).
    * None when the plan holds no graftlog scan, or more than one: a legacy
    * pre-schema table read through parquet, or a plan the optimizer
    * emptied (`lit(false)`). A caller must then assume every entry.
    */
  def plannedEntries(df: DataFrame): Option[Seq[TableLog.Entry]] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.location.isInstanceOf[GraftLogFileIndex] => s
    } match {
      case Seq(s) =>
        def static(fs: Seq[Expression]) =
          fs.filterNot(_.exists(_.isInstanceOf[PlanExpression[_]]))
        Some(s.relation.location.asInstanceOf[GraftLogFileIndex]
          .select(static(s.partitionFilters), static(s.dataFilters))
          .flatMap(_._2.map(_._1)))
      case _ => None
    }
}

private[graft] object GraftLog {

  /** The one-relation read over an entry subset: partition schema split
    * from the table schema by `partCols`, manifest-fed index, native
    * parquet format — Catalyst sees exactly a parquet table. `read` marks
    * a relation that stands for more than its files (see
    * [[GraftLogReadRewrite]]).
    */
  def relation(spark: SparkSession, root: String,
      entries: Seq[TableLog.Entry], tableSchema: StructType,
      partCols: Seq[String], read: Option[TableLog.EntryRead] = None)
      : HadoopFsRelation = {
    val partitionSchema = StructType(partCols.map(c =>
      tableSchema.find(_.name == c).getOrElse(StructField(c, StringType))))
    val index = new GraftLogFileIndex(spark, root, entries, partitionSchema, read)
    // dataSchema is the FULL table schema: partition columns ride as
    // OVERLAPPED partition columns (HadoopFsRelation serves them from the
    // partition values, and the planner never asks the files for them), so
    // the relation's output order IS the recorded schema order — a
    // format("graftlog") read needs no projection to match the table.
    HadoopFsRelation(index, partitionSchema, tableSchema, None,
      new GraftLogParquetFormat, Map.empty)(spark)
  }

  /** The batch relation `format("graftlog")` serves: the snapshot at
    * `version` (default head) as a [[HadoopFsRelation]] over the logical
    * table schema, its entries pinned at load. A snapshot with deletion
    * vectors or a column mapping carries its [[TableLog.EntryRead]],
    * decided here once (vectors' runs collected when they fit inline), for
    * [[GraftLogReadRewrite]] to expand; a plain snapshot is the bare
    * relation.
    */
  def batchRelation(spark: SparkSession, root: String,
      version: Option[Long]): BaseRelation = {
    // ONE state reconstruction serves schema, entries and layout — this is
    // the planning hot path (every format load and every graft_log TVF
    // analysis), so the delta chain replays exactly once
    val st = TableLog.state(spark, root, version)
    val schema = TableLog.tableSchemaFor(spark, root, st.entries, st.schemaJson)
    val read = TableLog.entryRead(spark, root, st.entries, TableLog.colmapOf(st))
    relation(spark, root, st.entries, schema,
      TableLog.partColsOf(st).filter(schema.fieldNames.contains),
      Some(read).filterNot(_.isPlain))
  }
}

/** OPTIMIZER rule (injected via [[graft.GraftExtensions]]) that replaces
  * each graftlog relation whose index carries a [[TableLog.EntryRead]]
  * with the read that step plans: a fresh physical-named relation over the
  * same pinned entries, through the step's column aliases and
  * deletion-vector filter or anti-join, aliased back to the relation's own
  * output attributes. Every occurrence gets its own fresh inner plan, so a
  * self-join of one loaded frame keeps distinct attribute ids per side.
  *
  * Optimization-time (not resolution-time) is deliberate: the ANALYZED
  * plan keeps the bare LogicalRelation, so `CREATE TEMPORARY VIEW` stores
  * an insertable relation (`INSERT INTO` goes through
  * [[GraftLogInsertRewrite]] like any graftlog insert) and schema surfaces
  * stay the plain table schema. The expansion holds no marked relation, so
  * the rule reaches a fixed point.
  */
object GraftLogReadRewrite
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case l: LogicalRelation => l.relation match {
      case rel @ HadoopFsRelation(idx: GraftLogFileIndex, _, _, _, _, _)
          if idx.read.nonEmpty =>
        val spark = rel.sparkSession
        val step = idx.read.get
        val phys = GraftLog.relation(spark, idx.root, idx.entries,
          TableLog.physicalSchema(rel.dataSchema, step.colmap),
          rel.partitionSchema.fieldNames.toSeq)
        val read = step.over(spark.baseRelationToDataFrame(phys))
          .queryExecution.analyzed
        if (read.output.size != l.output.size)
          throw new UnsupportedOperationException(
            s"the graftlog snapshot at ${idx.root} has deletion vectors or " +
              "renamed columns; its _metadata column is not readable")
        Project(read.output.zip(l.output).map { case (a, o) =>
          Alias(a, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, read)
      case _ => l
    }
  }
}

/** `format("graftlog")` — the [[TableLog]] data source:
  *
  *  - BATCH READ: `spark.read.format("graftlog").option("version", v)
  *    .load(root)` plans straight from the manifest
  *    ([[GraftLog.batchRelation]]) with partition pruning + manifest-stat
  *    skipping inside the index.
  *  - STREAMING READ: `spark.readStream.format("graftlog")
  *    .option("startingVersion", v).load(root)` tails the commit stream
  *    with VERSIONS AS OFFSETS ([[GraftLogSource]]).
  *  - BATCH WRITE: `df.write.format("graftlog").mode(...).save(root)` —
  *    manifest-committing Append/Overwrite/ErrorIfExists/Ignore; options
  *    `partitionBy` + `stats` (comma-separated) set a NEW table's layout
  *    and stat columns (see [[GraftLogWrite]] scaladoc).
  *  - STREAMING WRITE: `df.writeStream.format("graftlog").start(root)` —
  *    one atomic exactly-once snapshot commit per micro-batch
  *    ([[GraftLogSink]]).
  */
class GraftLogSourceProvider extends DataSourceRegister
  with RelationProvider with StreamSourceProvider
  with org.apache.spark.sql.sources.CreatableRelationProvider
  with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graftlog"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graftlog needs a table root: .load(<path>)"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val version = parameters.get("version")
      .orElse(parameters.get("versionAsOf")).map(_.toLong)
    GraftLog.batchRelation(sqlContext.sparkSession, rootOf(parameters), version)
  }

  /** The batch WRITER (`df.write.format("graftlog")`). Append is the blind
    * rebasing append (concurrent writers both land); Overwrite preserves an
    * existing table's recorded partition layout and tracked stat columns
    * unless `partitionBy`/`stats` name a new layout; ErrorIfExists/Ignore
    * follow their SaveMode contracts against log existence (a committed
    * version, not a directory).
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val exists = TableLog.headVersion(spark, root).nonEmpty
    val statCols = GraftLogWrite.csv(parameters, "stats")
    val partCols = GraftLogWrite.csv(parameters, "partitionBy")
    (partCols ++ statCols).foreach(c => require(data.columns.contains(c),
      s"option column '$c' is not in the written schema ${data.columns.toSeq}"))
    def create(): Unit = { TableLog.overwrite(data, root, partCols, statCols); () }
    mode match {
      case SaveMode.Append =>
        if (!exists && (partCols.nonEmpty || statCols.nonEmpty)) create()
        else { TableLog.append(data, root, statCols = statCols); () }
      case SaveMode.Overwrite =>
        if (exists && partCols.isEmpty && statCols.isEmpty)
          TableLog.insertOverwrite(data, root) // keep the recorded layout
        else create()
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graftlog table at $root already exists (SaveMode.ErrorIfExists)")
        create()
      case SaveMode.Ignore => if (!exists) create()
    }
    GraftLog.batchRelation(spark, root, None)
  }

  /** The streaming SINK: exactly-once micro-batch appends (epoch token in
    * the manifest — [[TableLog.appendBatch]]). Append-only by construction:
    * each batch is one atomic snapshot commit, so update/complete modes
    * (which retract rows) cannot be expressed. A partitioned layout comes
    * from the TABLE (create it partitioned first); `partitionBy` on the
    * stream would race the first batch against table creation.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graftlog sink is append-only (atomic snapshot commit per batch); " +
        s"got $outputMode")
    require(partitionColumns.isEmpty,
      "partition the TABLE, not the stream: create it partitioned first " +
        "(df.write.format(\"graftlog\").option(\"partitionBy\", ...)) — the " +
        "sink adopts the table's recorded layout")
    new GraftLogSink(sqlContext.sparkSession, rootOf(parameters), parameters)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      GraftLogSource.tableSchema(sqlContext.sparkSession, rootOf(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    new GraftLogSource(sqlContext.sparkSession, rootOf(parameters), schema,
      parameters)
}

/** Versions-as-offsets micro-batch source over a [[TableLog]] commit log —
  * the Delta-source shape, and the only way to tail a table log: `getBatch`
  * plans the window's APPENDED FILES as one native parquet relation
  * ([[GraftLog.relation]] flagged streaming), so a version's rows flow
  * executor-to-executor and NEVER touch the driver.
  *
  * Offsets are committed table versions: `latestOffset` is the
  * `_last_checkpoint`-pointer head probe (an idle poll costs a couple of
  * metadata existence checks), `getBatch(start, end)` is
  * [[TableLog.fileChanges]] over `(start, end]`. Admission control paces
  * delivery at `maxVersionsPerBatch` (default 1) versions per micro-batch,
  * so BATCH BOUNDARIES COINCIDE WITH COMMIT POINTS — a version's rows never
  * split across batches and stateful operators see state carry over at
  * exactly the log's atomic commits (what the q219 gate pins). Works under
  * Trigger.AvailableNow via [[prepareForTriggerAvailableNow]] (the head is
  * fixed once; pacing still applies).
  *
  * Options: `startingVersion` (consume strictly AFTER this version;
  * default 0 = since inception), `maxVersionsPerBatch` (default 1),
  * `onRewrite` ∈ fail | skip | deliverAdds — the stances every log
  * streaming source ends up offering for a version that REWROTE files
  * (compact/delete/merge/overwrite: not an append, so "what did it add" is
  * not a file-level question):
  *  - fail (default): throw the typed [[NonAppendVersionException]]
  *    WITHOUT advancing — nothing silently dropped; the consumer decides
  *    (full reprocess from the snapshot, or a [[TableLog.readChanges]]
  *    over the window).
  *  - skip: pass the version delivering NOTHING — for maintenance-only
  *    rewrites. Rows a rewrite commit ADDED (a merge's new keys) are not
  *    delivered, which is weaker than Delta's ignoreChanges.
  *  - deliverAdds: deliver the rewrite's added files raw — Delta's
  *    ignoreChanges contract: at-least-once redelivery of every row the
  *    rewrite carried along, and a DV commit's re-added files arrive
  *    WITHOUT the vector applied; the consumer must be idempotent.
  *
  * The recorded table schema at the window's END governs each read
  * (additive evolution NULL-fills older batches); output is aligned to the
  * source's declared schema.
  */
class GraftLogSource(spark: SparkSession, root: String,
    userSchema: Option[StructType], parameters: Map[String, String])
  extends org.apache.spark.sql.execution.streaming.Source
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}
  import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val startingVersion =
    parameters.get("startingVersion").map(_.toLong).getOrElse(0L)
  private val maxVersionsPerBatch =
    parameters.get("maxVersionsPerBatch").map(_.toLong).getOrElse(1L)
  private val onRewrite =
    parameters.getOrElse("onRewrite", "fail").toLowerCase match {
      case "fail" => GraftLogSource.Fail
      case "skip" => GraftLogSource.Skip
      case "deliveradds" => GraftLogSource.DeliverAdds
      case other => throw new IllegalArgumentException(
        s"onRewrite must be fail | skip | deliverAdds, got $other")
    }
  require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be >= 1")

  override val schema: StructType =
    userSchema.getOrElse(GraftLogSource.tableSchema(spark, root))

  /** LOGICAL → PHYSICAL mapping resolved ONCE at stream construction:
    * physical identities never change (a rename only re-points the logical
    * name), so every window's files — before or after any rename — read
    * correctly under the mapping of the head the stream started from; a
    * rename DURING the stream is invisible by the fixed-schema contract.
    */
  private val colmap: Map[String, String] =
    TableLog.headVersion(spark, root).map(h =>
      TableLog.colmapOf(TableLog.state(spark, root, Some(h))))
      .getOrElse(Map.empty)

  /** Furthest version handed out via getBatch this run; latestOffset also
    * honors the engine-provided start offset, which wins after a restart
    * recovery where getBatch was never called.
    */
  private var deliveredTo: Long = startingVersion
  private var availableNowCap: Option[Long] = None

  private def verOf(o: AnyRef): Long = o match {
    case l: LongOffset => l.offset
    case o: OffsetV2 => o.json.trim.toLong
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = TableLog.headVersion(spark, root).orElse(Some(startingVersion))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur = math.max(deliveredTo,
      Option(start).map(verOf).getOrElse(startingVersion))
    val head = TableLog.headVersion(spark, root).getOrElse(cur)
    val capped = availableNowCap.fold(head)(math.min(head, _))
    val next = math.min(cur + maxVersionsPerBatch, capped)
    if (next <= cur) null else LongOffset(next)
  }

  // the legacy V1 polling path has no start-offset parameter, so after a
  // restart it could only answer from deliveredTo = startingVersion and
  // would REGRESS a committed offset (redelivering versions). This source
  // declares SupportsAdmissionControl, so the engine always drives it
  // through latestOffset(start, limit) — FileStreamSource's contract.
  override def getOffset: Option[OffsetV1] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val vFrom = start.map(o => verOf(o)).getOrElse(startingVersion)
    val vTo = verOf(end)
    deliveredTo = math.max(deliveredTo, vTo)
    // per-version policy walk over (vFrom, vTo]
    val adds = Vector.newBuilder[TableLog.Entry]
    var v = vFrom + 1
    while (v <= vTo) {
      val (a, r) = TableLog.fileChanges(spark, root, v - 1, v)
      if (r.isEmpty) adds ++= a
      else onRewrite match {
        case GraftLogSource.Skip => ()
        case GraftLogSource.DeliverAdds => adds ++= a
        case GraftLogSource.Fail =>
          throw new NonAppendVersionException(
            s"version $v of $root rewrote files (compaction/delete/merge); " +
              "an append tail cannot express it as new rows — reprocess " +
              "from the snapshot, use readChanges, or set onRewrite = " +
              "skip/deliverAdds")
      }
      v += 1
    }
    val entries = adds.result()
    if (entries.isEmpty) Internals.emptyStreamingFrame(spark, schema)
    else {
      // the SOURCE schema reads every window: a streaming query's output
      // schema is fixed at start anyway, additive columns a window's
      // older files lack NULL-fill under it, and columns added to the
      // table AFTER the stream started are invisible by definition — so
      // no per-batch snapshot-state reconstruction (which would replay
      // the delta chain from the last checkpoint on EVERY micro-batch of
      // a hot tail) is ever needed; getBatch's metadata cost is exactly
      // the window's own manifests.
      val partCols = entries.head.partition.keys.toSeq.sorted
      require(entries.forall(_.partition.keys.toSeq.sorted == partCols),
        "mixed partition layouts in one change window are not readable")
      val physSchema = TableLog.physicalSchema(schema, colmap)
      val rel = GraftLog.relation(spark, root, entries, physSchema,
        partCols.filter(physSchema.fieldNames.contains))
      Internals.streamingRelationFrame(spark, rel)
        .select(schema.fieldNames.toSeq.map(n =>
          col(colmap.getOrElse(n, n)).as(n)): _*)
    }
  }

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftLogSource[$root]"
}

private[graft] object GraftLogSource {
  /** The parsed `onRewrite` option (see the class scaladoc). */
  private sealed trait RewritePolicy
  private case object Fail extends RewritePolicy
  private case object Skip extends RewritePolicy
  private case object DeliverAdds extends RewritePolicy

  def tableSchema(spark: SparkSession, root: String): StructType =
    TableLog.schemaOf(spark, root).getOrElse(throw new IllegalArgumentException(
      s"graftlog stream over $root needs a table with a recorded schema " +
        "(any data commit records one); pass .schema(...) to override"))
}

/** [[GraftLogSource]] met a version that rewrote files under
  * `onRewrite = fail`. The source's offset stays BEFORE that version —
  * nothing was silently dropped.
  */
final class NonAppendVersionException(msg: String)
  extends IllegalStateException(msg)
