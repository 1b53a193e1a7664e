package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the only session builder in the main sources, so no
  * tool or entry point can drift from the bench's config again.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main/scala only in GraftSession") {
    val builder = """SparkSession\s*\.\s*(builder|Builder)""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "main sources not found from the working directory")
    val hits = files.map(f => f.getFileName.toString ->
      builder.findAllIn(Files.readString(f)).size).filter(_._2 > 0)
    assert(hits == Seq("GraftSession.scala" -> 1), s"session builders: $hits")
  }
}
