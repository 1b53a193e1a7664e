package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.Internals

/** WRITE side of `format("graftlog")` — the round-16 closure of the Spark
  * integration: before this, the log was readable five ways (format load,
  * streaming tail, three SQL TVFs) but writable only from the Scala API
  * ([[TableLog.append]]/overwrite). Three surfaces land here:
  *
  *  - BATCH writer: `df.write.format("graftlog").mode(...)`
  *    ([[GraftLogSourceProvider.createRelation]], the
  *    CreatableRelationProvider overload) — Append commits through the
  *    blind rebasing append, Overwrite preserves the table's recorded
  *    partition layout + tracked stat columns unless a new layout is named
  *    via options (`partitionBy`, `stats` — comma-separated column lists).
  *  - STREAMING sink: `df.writeStream.format("graftlog").start(root)`
  *    ([[GraftLogSink]]) — every micro-batch is ONE atomic snapshot commit
  *    carrying the epoch token, i.e. the [[TableLog.appendBatch]]
  *    exactly-once contract (a replayed epoch is detected from the log
  *    itself, so checkpoint-restart never duplicates rows). Options:
  *    `stats` (per-batch manifest stats so a streamed table keeps
  *    skipping), `compactEvery`/`targetBytes` (fold small-files
  *    maintenance into the sink).
  *  - SQL DML: `INSERT INTO` / `INSERT OVERWRITE` over a graftlog-backed
  *    view or catalog table. The native read relation is a
  *    [[org.apache.spark.sql.execution.datasources.HadoopFsRelation]], so
  *    the built-in analyzer turns its inserts into
  *    [[InsertIntoHadoopFsRelationCommand]] — which would write parquet
  *    STRAIGHT INTO the table directory, invisible to (and corrupting) the
  *    manifest. [[GraftLogInsertRewrite]] (injected via
  *    [[graft.GraftExtensions]], which runs AFTER the built-in post-hoc
  *    rules) intercepts exactly those commands — recognized by their
  *    [[GraftLogFileIndex]] — and replans them as [[GraftLogInsertCommand]],
  *    the manifest-committing insert — every graftlog insert, including
  *    one into a snapshot with deletion vectors or renamed columns.
  */
class GraftLogSink(spark: SparkSession, root: String,
    parameters: Map[String, String]) extends Sink {

  private val compactEvery =
    parameters.get("compactEvery").map(_.toInt).getOrElse(0)
  private val targetBytes =
    parameters.get("targetBytes").map(_.toLong).getOrElse(128L << 20)
  private val statCols = GraftLogWrite.csv(parameters, "stats")

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the micro-batch frame is streaming-flagged; re-root it on its own
    // incremental RDD (rows stay executor-side) so the batch write path
    // can plan it
    val batch = Internals.asBatchFrame(data)
    TableLog.appendBatch(batch, batchId, root, statCols = statCols)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      TableLog.compact(spark, root, targetBytes)
    ()
  }

  override def toString: String = s"GraftLogSink[$root]"
}

/** The manifest-committing INSERT: append or full-snapshot overwrite of the
  * table at `root` with the (already analyzed, position-aligned) `query`.
  * Runs the query through a fresh batch execution — the rows flow straight
  * from the child plan's tasks into the staged parquet write; nothing
  * touches the driver.
  */
case class GraftLogInsertCommand(root: String, query: LogicalPlan,
    overwrite: Boolean, outputColumnNames: Seq[String])
  extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    // the analyzer aligned the query's output to the table schema BY
    // POSITION (adding casts); rename to the table's column names so the
    // manifest commit records the right schema
    val df = Internals.ofRows(spark, query).toDF(outputColumnNames: _*)
    if (overwrite) TableLog.insertOverwrite(df, root)
    else TableLog.append(df, root)
    Seq.empty
  }
}

/** Post-hoc analyzer rule: replan a built-in file-relation insert over a
  * graftlog table as the manifest-committing [[GraftLogInsertCommand]].
  * Runs after the session's own post-hoc rules (extension ordering), so
  * the command to intercept already exists; matching on the command's
  * [[GraftLogFileIndex]] is airtight — only graftlog relations carry one.
  */
object GraftLogInsertRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case i: InsertIntoHadoopFsRelationCommand =>
      i.fileIndex match {
        case Some(idx: GraftLogFileIndex) =>
          val overwrite = i.mode == SaveMode.Overwrite
          if (overwrite && i.staticPartitions.nonEmpty)
            throw new UnsupportedOperationException(
              "graftlog does not support INSERT OVERWRITE of a static " +
                "partition — overwrite the whole table, or delete the " +
                "partition (TableLog.delete / graft_log TVFs) and append")
          if (i.ifPartitionNotExists)
            throw new UnsupportedOperationException(
              "graftlog does not support IF NOT EXISTS partition inserts")
          GraftLogInsertCommand(idx.root, i.query, overwrite,
            i.outputColumnNames)
        case _ => i
      }
    case other => other
  }
}

/** The file format graftlog relations READ through — identical to parquet
  * (inherits every reader path, still matches the optimizer's
  * `ParquetFileFormat` checks) except that DIRECT WRITES are refused with a
  * typed error. Defense in depth: in a session WITHOUT [[graft.
  * GraftExtensions]] installed, the built-in analyzer would plan
  * `INSERT INTO` over the native relation as a raw file write into the
  * table directory — parquet invisible to (and corrupting) the manifest.
  * This makes that path fail loudly instead of corrupting silently.
  */
class GraftLogParquetFormat
  extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "direct file writes into a graftlog table would bypass the commit " +
        "log: use df.write.format(\"graftlog\") / TableLog.append, or " +
        "install graft.GraftExtensions so INSERT INTO replans onto the " +
        "manifest commit")
}

private[graft] object GraftLogWrite {
  /** Comma-separated option list → trimmed non-empty names. */
  def csv(parameters: Map[String, String], key: String): Seq[String] =
    parameters.get(key).toSeq.flatMap(_.split(','))
      .map(_.trim).filter(_.nonEmpty)
}
