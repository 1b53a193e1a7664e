package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Storage seam for the commit log's METADATA operations — the small,
  * sharply-defined surface whose atomicity carries every [[TableLog]]
  * guarantee. Data files (parquet) never go through this interface; only
  * the log directory's manifests, checkpoints, pointers and markers do.
  *
  * The contract, per method:
  *  - [[writeIfAbsent]] is the COMMIT CAS: it must atomically publish the
  *    full content at `path` iff no file exists there, returning false
  *    (never a partial file) when one does. Everything else in the log
  *    protocol — optimistic concurrency, exactly-once streaming appends,
  *    crash-invisible half-writes — reduces to this one primitive.
  *  - [[read]] must return only fully-published content (content that some
  *    writeIfAbsent/writeOverwrite completed).
  *  - [[writeOverwrite]] is for CACHE files only (`_last_checkpoint`): a
  *    torn or stale read must be RECOVERABLE by the caller (TableLog
  *    falls back to listing), so it needs no atomicity beyond
  *    eventual-full-content.
  *  - [[list]] returns the file names in a directory (no recursion).
  *
  * The default [[HadoopLogStore]] implements the CAS as write-temp then
  * `FileContext.rename(…, Rename.NONE)` — the Hadoop primitive that is
  * SPECIFIED to fail when the destination exists (exclusive on local
  * RawLocalFs and HDFS; plain `FileSystem.rename`'s behavior there is
  * implementation-dependent — stock LocalFileSystem overwrites). An
  * S3-style object store — where rename is copy+delete and not exclusive —
  * plugs in a conditional-put (If-None-Match) implementation via
  * `spark.graft.logstore.class`, exactly the seam Delta's LogStore
  * provides; WarehouseSpec drives the whole conflict suite through a
  * non-filesystem mock to prove the guarantee lives in this interface,
  * not in any particular FS.
  */
trait LogStore {
  /** File names (not paths) directly under `dir`; empty if absent. */
  def list(spark: SparkSession, dir: String): Seq[String]
  /** Full content of a published file. Throws if absent. */
  def read(spark: SparkSession, path: String): String
  /** Atomically publish `content` at `path` iff absent; false if a file
    * already exists there (the CAS loss). Never leaves a partial file.
    */
  def writeIfAbsent(spark: SparkSession, path: String, content: String): Boolean
  /** Overwrite a cache/pointer file (no CAS contract — see trait doc). */
  def writeOverwrite(spark: SparkSession, path: String, content: String): Unit
  def exists(spark: SparkSession, path: String): Boolean
  def delete(spark: SparkSession, path: String): Unit
}

object LogStore {
  /** Conf key naming a LogStore implementation class (no-arg constructor);
    * unset/empty selects [[HadoopLogStore]].
    */
  val ConfKey = "spark.graft.logstore.class"

  def resolve(spark: SparkSession): LogStore =
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case None => HadoopLogStore
      case Some(cn) => Class.forName(cn).getDeclaredConstructor()
        .newInstance().asInstanceOf[LogStore]
    }
}

/** Default [[LogStore]]: Hadoop filesystem with write-temp then
  * FileContext exclusive rename as the CAS (specified-exclusive on
  * local/HDFS; see trait doc for object stores).
  */
object HadoopLogStore extends LogStore {
  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  override def list(spark: SparkSession, dir: String): Seq[String] =
    listStats(spark, dir).keys.toSeq

  /** (length, modification time) of each file directly under `dir`, by
    * name; empty if absent.
    */
  def listStats(spark: SparkSession, dir: String): Map[String, (Long, Long)] = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).iterator.filter(_.isFile)
      .map(f => f.getPath.getName -> ((f.getLen, f.getModificationTime))).toMap
  }

  override def read(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = fsOf(spark, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  override def writeIfAbsent(spark: SparkSession, path: String,
      content: String): Boolean = {
    val dst = new Path(path)
    val fs = fsOf(spark, dst)
    fs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent,
      s"${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    // the CAS itself, strongest primitive first:
    //  1. LOCAL scheme: hard-link tmp → dst (java.nio createLink) — a
    //     single POSIX link(2), TRULY atomic-exclusive across processes
    //     (EEXIST loses), no check-then-act window at all.
    //  2. else FileContext.rename with Rename.NONE — SPECIFIED to fail
    //     when the destination exists (exclusive on HDFS; on local it is
    //     check-then-rename, which is why the link path comes first).
    //     Plain FileSystem.rename's refuse-existing behavior is
    //     implementation-dependent — stock LocalFileSystem POSIX-renames
    //     OVER an existing destination and returns true, which would
    //     silently degrade the commit CAS to last-writer-wins.
    //  3. schemes with neither: rename-if-absent best-effort (plug a
    //     conditional-put LogStore instead — see trait doc).
    // On ANY failure the staged tmp is removed (the contract: never a
    // partial or leftover file); a rename-based win is READ-BACK VERIFIED
    // — it NARROWS (not closes) the residual non-link window; manifests
    // are tiny, so the extra read is noise against the data write.
    def linkCas(): Option[Boolean] =
      if (!"file".equals(fs.getUri.getScheme)) None
      else try {
        val dstNio = java.nio.file.Paths.get(fs.makeQualified(dst).toUri)
        val tmpNio = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
        java.nio.file.Files.createLink(dstNio, tmpNio)
        fs.delete(tmp, false)
        Some(true)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false); Some(false)
        case _: UnsupportedOperationException | _: java.io.IOException =>
          None // no hard links on this mount: fall through to rename
      }
    linkCas() match {
      case Some(result) => return result
      case None => ()
    }
    val won =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dst.toUri, spark.sessionState.newHadoopConf())
        try { fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: org.apache.hadoop.fs.PathExistsException =>
            fs.delete(tmp, false); false
          case e: java.io.IOException =>
            // an untyped IOException: PROBE the destination rather than
            // sniff the message (filesystems and locales word rename
            // failures differently) — dst existing means the CAS was
            // genuinely lost; otherwise clean the staging and surface the
            // real failure
            fs.delete(tmp, false)
            if (fs.exists(dst)) false else throw e
        }
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no AbstractFileSystem binding for this scheme: fall back to
          // rename-if-absent (the read-back below still verifies). A
          // scheme without FileContext should plug in a conditional-put
          // LogStore (see trait doc) rather than rely on rename semantics.
          if (fs.exists(dst)) { fs.delete(tmp, false); false }
          else if (fs.rename(tmp, dst)) true
          else { fs.delete(tmp, false); false }
      }
    won && read(spark, path) == content
  }

  override def writeOverwrite(spark: SparkSession, path: String,
      content: String): Unit = {
    val dst = new Path(path)
    val fs = fsOf(spark, dst)
    fs.mkdirs(dst.getParent)
    val out = fs.create(dst, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  override def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  override def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, false)
    ()
  }

  /** (length, modification time) of the file at `path`; None if absent. */
  def stat(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val p = new Path(path)
    try {
      val st = fsOf(spark, p).getFileStatus(p)
      Some((st.getLen, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
  }
}
