package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Files a read's executed scan would read: the scan node's OWN filter
  * split driven back through its FileIndex — asserts both the strategy
  * wiring (filters reached the scan) and the index's pruning.
  */
object PlannedFiles {

  /** How many files the one file scan of `df` reads. */
  def apply(df: DataFrame): Int = {
    val files = paths(df)
    assert(files.nonEmpty, "a graftlog read must plan exactly ONE file scan, got 0")
    files.get.size
  }

  /** Root-relative paths the file scan of `df` lists; None when the plan
    * has no file scan (the optimizer emptied it).
    */
  def paths(df: DataFrame): Option[Set[String]] = {
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size <= 1,
      s"a graftlog read must plan exactly ONE file scan, got ${scans.size}")
    scans.headOption.map { s =>
      val index = s.relation.location
      val root = index.rootPaths.head.toString.stripSuffix("/") + "/"
      index.listFiles(s.partitionFilters.filterNot(_.references.isEmpty),
          s.dataFilters)
        .flatMap(_.files.map(_.getPath.toString.stripPrefix(root))).toSet
    }
  }
}
