package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs, and their scratch
  * dirs.
  */
object TestSpark {
  /** Every [[tmpDir]] this JVM made; one shutdown hook deletes them all. */
  private val tmpDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  sys.addShutdownHook(tmpDirs.forEach(rmTree))

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** A new `graft_<tag>…` dir under java.io.tmpdir (table roots,
    * checkpoints, source dirs), deleted with its contents when the test
    * JVM exits.
    */
  def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    tmpDirs.add(d)
    d.toString
  }

  lazy val spark: SparkSession = {
    // keep test-run droppings out of the repo root: Derby (JdbcSinkSpec)
    // writes derby.log to CWD unless told otherwise, and the catalog
    // default warehouse lands at ./spark-warehouse — both belong in target/
    System.setProperty("derby.stream.error.file", "target/derby.log")
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Regular files under the context's EFFECTIVE checkpoint dir. The
    * checkpoint-dir operators follow set-only-when-unset (an earlier
    * operator's dir wins for the whole shared session), so specs asserting
    * "reliable checkpointing wrote data" must look at the dir the context
    * actually points to, not the one they passed.
    */
  def effectiveCheckpointFiles(): Long = {
    val eff = spark.sparkContext.getCheckpointDir.getOrElse(
      throw new IllegalStateException("no checkpoint dir configured"))
    val p = java.nio.file.Paths.get(
      if (eff.startsWith("file:")) new java.net.URI(eff).getPath else eff)
    java.nio.file.Files.walk(p)
      .filter(java.nio.file.Files.isRegularFile(_)).count()
  }
}
