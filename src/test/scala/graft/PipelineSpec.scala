package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pipeline

/** Planted-fixture funnel test for the composed curation pipeline: one doc
  * per elimination stage, plus a clean survivor. Two unrelated English base
  * texts keep the near-dup cluster and the contamination case disjoint. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Base English texts: enough tokens, stopword-heavy, en wins lang-id.
  private val enA = "the quick brown fox jumps over the lazy dog and the " +
    "river is running to the sea while the sun sets behind the hills"
  private val enB = "a model of the ocean is measured and the waves are " +
    "counted to find the average height of the tide in every season"

  private def fixture() = {
    import spark.implicits._
    Seq(
      // doc 0: benchmark split (excluded from output, feeds decontam index)
      (0L, enB + " benchmark answer key alpha beta gamma"),
      // doc 1: survives to near-dup, loses keep-best to the longer doc 5
      (1L, enA + " original content about rivers and valleys"),
      // doc 2: Spanish — fails lang-id
      (2L, "el rio y la montana de que los valles y la luz de la manana " +
        "que los pajaros y la sombra de los arboles"),
      // doc 3: too short — fails quality
      (3L, "the end"),
      // doc 4: exact copy of doc 1 — eliminated by exact dedup (min id wins)
      (4L, enA + " original content about rivers and valleys"),
      // doc 5: near-dup of doc 1, one token LONGER — keep-best keeps 5
      (5L, enA + " original content about rivers and green valleys"),
      // doc 6: contaminated — near-verbatim copy of the benchmark doc,
      // unrelated to the doc-1/5 cluster (enB base, one token changed)
      (6L, enB + " benchmark answer key alpha beta delta")
    ).toDF("doc_id", "text")
  }

  test("curate flags each funnel stage and NULLs stages a doc never reached") {
    val out = Pipeline.curate(fixture(), col("doc_id"), col("text"),
        benchPred = col("doc_id") === 0L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    assert(!out.contains(0L), "benchmark docs are excluded from the output")
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))

    def flags(id: Long) = {
      val r = out(id)
      Seq("lang_ok", "quality_ok", "exact_keep", "neardup_keep", "decontam_ok")
        .map(c => if (r.isNullAt(r.fieldIndex(c))) None
                  else Some(r.getAs[Boolean](c)))
    }
    // doc 2 fails lang-id (and the en-stopword quality screen); the dedup
    // and decontam stages never saw it -> NULL
    assert(flags(2L)(0) == Some(false) && flags(2L).drop(2).forall(_.isEmpty))
    // doc 3 fails quality
    assert(flags(3L)(1) == Some(false) && flags(3L)(2).isEmpty)
    // doc 4 is the exact dup (higher id loses); near-dup stage never saw it
    assert(flags(4L) == Seq(Some(true), Some(true), Some(false), None, None))
    // doc 1 survives exact dedup but loses keep-best to the longer doc 5
    assert(flags(1L) == Seq(Some(true), Some(true), Some(true), Some(false), None))
    // doc 5 wins its cluster and shares nothing with the benchmark split
    assert(flags(5L) ==
      Seq(Some(true), Some(true), Some(true), Some(true), Some(true)))
    // doc 6 is its own cluster but ~90% of its shingles are benchmark
    assert(flags(6L) ==
      Seq(Some(true), Some(true), Some(true), Some(true), Some(false)))

    val kept = out.filter(_._2.getAs[Boolean]("kept")).keySet
    assert(kept == Set(5L), s"only the keep-best, clean survivor is kept: $kept")
  }

  test("curateFromHtml: markup wrapping + boilerplate do not perturb the funnel") {
    // wrap each fixture doc in chrome-heavy markup whose boilerplate blocks
    // are density-dropped and whose main block round-trips the text exactly
    // — the funnel verdicts must equal curate() over the plain text
    val wrapped = fixture().withColumn("html", concat(
      lit("<html><head><script>nav();</script></head><body>" +
        "<div><a href='/'>Home</a> <a href='/x'>More</a></div><p>"),
      col("text"),
      lit("</p><div>(c) <a href='/t'>Terms</a> <a href='/p'>Priv</a>" +
        "</div></body></html>")))
    val plain = Pipeline.curate(fixture(), col("doc_id"), col("text"),
      benchPred = col("doc_id") === 0L).orderBy("doc_id").collect()
    val viaHtml = Pipeline.curateFromHtml(wrapped, col("doc_id"), col("html"),
      benchPred = col("doc_id") === 0L).orderBy("doc_id").collect()
    assert(plain.sameElements(viaHtml),
      "stage-0 extraction must hand the funnel the identical text")
  }

  test("curate with a reliable checkpoint dir yields identical rows") {
    val dir = TestSpark.tmpDir("pipeline-ckpt")
    val local = Pipeline.curate(fixture(), col("doc_id"), col("text"),
      benchPred = col("doc_id") === 0L).orderBy("doc_id").collect()
    val reliable = Pipeline.curate(fixture(), col("doc_id"), col("text"),
      benchPred = col("doc_id") === 0L, checkpointDir = Some(dir))
      .orderBy("doc_id").collect()
    assert(local.sameElements(reliable))
  }

  test("curate plan reads the corpus once and joins materialized flag frames") {
    // the unpinned lazily-composed funnel re-derived the upstream lineage
    // inside every flag join: 70 corpus scans, 12 dedup windows (sf0.001).
    // Pinned, the final plan is ONE corpus scan + three materialized
    // (ExistingRDD) flag joins; the stage work ran exactly once at pin time
    val df = graft.SparkEntry.queries("q100_curation_pipeline")(
      spark, "/root/testdata/sf0.001")
    // sparkPlan (pre-AQE, pre-EnsureRequirements — the DedupSpec pattern):
    // the AQE wrapper hides its tree from collect, and runtime-filter
    // bloom subqueries (helpful injected scans) live in expressions anyway
    val leaves = df.queryExecution.sparkPlan.collectLeaves()
    val parquetScans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    val rddScans = leaves.count(
      _.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(parquetScans == 1, s"expected 1 corpus scan in the final plan, got $parquetScans")
    assert(rddScans == 3, s"expected 3 materialized flag-frame scans, got $rddScans")
    assert(windows.isEmpty, s"stage windows must run at pin time, got ${windows.size} in the final plan")
  }
}
