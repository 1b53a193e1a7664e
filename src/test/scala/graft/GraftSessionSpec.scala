package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards on the main sources. GraftSession is the only session
  * builder, so no tool or entry point can drift from the bench's config
  * again; MemoryReplay's runner is the only memory sink, the streaming
  * package keeps no mutable slots a second run in the same JVM could read,
  * TableLog's manifest commit is the only way a table file is rewritten
  * (no directory swap, no dynamic partition overwrite), and no relation
  * reads or inserts rows outside the native file relation (no V1 scan or
  * insertable relation). GraftExtensions sizes Spark's generated-class cache
  * for every session built with it, unless the conf is already set. The
  * IVF coarse quantizer and the bounded KNN shortlist are built only in
  * Similarity; Quantize keeps what is PQ- or int8-specific.
  */
class GraftSessionSpec extends AnyFunSuite {

  /** (file name, match count) of every main source under `sub` that matches. */
  private def hits(sub: String, pattern: String): Seq[(String, Int)] = {
    val files = Files.walk(Paths.get("src/main/scala", sub)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "main sources not found from the working directory")
    files.map(f => f.getFileName.toString ->
      pattern.r.findAllIn(Files.readString(f)).size).filter(_._2 > 0)
  }

  test("SparkSession.builder appears in src/main/scala only in GraftSession") {
    val found = hits("", """SparkSession\s*\.\s*(builder|Builder)""")
    assert(found == Seq("GraftSession.scala" -> 1), s"session builders: $found")
  }

  test("one memory sink in src/main/scala; no @volatile var in graft/streaming") {
    val sinks = hits("", """format\s*\(\s*"memory"\s*\)""")
    assert(sinks == Seq("MemoryReplay.scala" -> 1), s"memory sinks: $sinks")
    val slots = hits("graft/streaming", """@volatile\s+var\b""")
    assert(slots.isEmpty, s"mutable slots in graft.streaming: $slots")
  }

  test("no renameTo or partitionOverwriteMode in src/main/scala") {
    val found = hits("", """renameTo|partitionOverwriteMode""")
    assert(found.isEmpty, s"in-place table rewrites: $found")
  }

  test("no PrunedFilteredScan, PrunedScan, TableScan or InsertableRelation in src/main/scala") {
    val found = hits("",
      """\b(PrunedFilteredScan|PrunedScan|TableScan|InsertableRelation)\b""")
    assert(found.isEmpty, s"V1 row relations: $found")
  }

  test("Quantize spells no graft_topk or cell kernel; cell kernels only in Similarity") {
    val quantize = hits("graft/operators", """graft_(topk|cellargmax|celltop)\b""")
      .filter(_._1 == "Quantize.scala")
    assert(quantize.isEmpty, s"Quantize builds its own shortlist or cells: $quantize")
    val cells = hits("graft/operators", """graft_(cellargmax|celltop)\b""").map(_._1)
    assert(cells == Seq("Similarity.scala"), s"coarse quantizers: $cells")
  }

  test("a GraftSession session sizes the generated-class cache from GraftExtensions") {
    assert(TestSpark.spark.conf.get(GraftExtensions.CodegenCacheKey) ==
      GraftExtensions.CodegenCacheEntries.toString)
  }

  test("GraftExtensions.apply sets an absent codegen cache property and leaves a preset one alone") {
    val key = GraftExtensions.CodegenCacheKey
    val saved = Option(System.getProperty(key))
    try {
      System.clearProperty(key)
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(System.getProperty(key) == GraftExtensions.CodegenCacheEntries.toString)
      System.setProperty(key, "37")
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(System.getProperty(key) == "37")
    } finally saved match {
      case Some(v) => System.setProperty(key, v)
      case None => System.clearProperty(key)
    }
  }
}
