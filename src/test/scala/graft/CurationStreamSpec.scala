package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CurationStream, MemoryReplay}

/** Hand fixture through the INGEST-time curation funnel: one doc per
  * elimination stage, plus the one deliberate batch/stream divergence —
  * near-dup policy (keep-best vs first-occurrence-wins) — pinned
  * explicitly against [[graft.operators.Pipeline.curate]].
  */
class CurationStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // doc 1: clean keeper; doc 2: exact dup of 1; doc 3: LONGER near-dup of
  // 1 (keep-best would prefer it; first-wins drops it); doc 4: Spanish;
  // doc 6: identical to benchmark doc 10 → contaminated
  private val docA = "the quick brown fox jumps over the lazy dog in the morning"
  private val docA2 = docA.replace("morning", "evening") +
    " again and again and again"
  private val benchText = "the benchmark question about spark and the vectors is in the data"
  private def corpus = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, docA),
      (2L, docA),
      (3L, docA2),
      (4L, "el perro de la casa que y los gatos corren"),
      (6L, benchText),
      (10L, benchText)).toDF("doc_id", "text")
  }

  private def flags(nBatches: Int) =
    CurationStream.replayFunnel(spark, corpus, col("doc_id"), col("text"),
        benchPred = col("doc_id") === 10, nBatches = nBatches)
      .collect()
      .map(r => r.getLong(0) -> (1 to 6).map(i =>
        if (r.isNullAt(i)) None else Some(r.getBoolean(i))).toVector)
      .toMap

  test("each stage eliminates its doc; flags NULL-stage correctly; first-wins keeps the earlier near-dup") {
    val f = flags(nBatches = 4)
    val T = Some(true); val F = Some(false); val N = None
    //                    lang   qual   exact  near   decon  kept
    assert(f(1L) == Vector(T,     T,     T,     T,     T,     T))
    assert(f(2L) == Vector(T,     T,     F,     N,     N,     F))
    assert(f(3L) == Vector(T,     T,     T,     F,     N,     F), "first-wins drops the later near-dup")
    assert(f(4L)(0) == F)
    assert(f(4L)(5) == F)
    assert(f(6L) == Vector(T,     T,     T,     T,     F,     F), "benchmark copy is contaminated")
    assert(!f.contains(10L), "benchmark docs are index, not output")
  }

  test("funnel output is invariant to the micro-batch split") {
    assert(flags(1) == flags(4))
    assert(flags(4) == flags(6))
  }

  test("decontam flags: a doc whose hits span two micro-batches gets one flag row") {
    val sp = spark
    import sp.implicits._
    graft.functions.GraftFunctions.register(spark)
    val bench = Seq(benchText).toDF("text")
      .select(explode(call_function("graft_shingles", col("text"), lit(3))).as("s"))
      .select(xxhash64(col("s")).as("sk")).distinct()
    // doc 6 arrives in both micro-batches, so the Update-mode aggregate
    // emits its group twice, with a cumulative count
    val hits = MemoryReplay.replayChunks(spark,
        Seq(Seq((6L, benchText), (1L, docA)), Seq((6L, benchText))),
        mode = OutputMode.Update())(ds =>
        CurationStream.decontamHitsStream(ds.toDF("doc_id", "text"),
          "doc_id", "text", bench).as[(Long, Long, Long)])
      .toDF("doc_id", "n_sh", "n_hit")
    assert(hits.filter(col("doc_id") === 6L).count() == 2L)
    val docs = Seq((1L, docA), (6L, benchText)).toDF("doc_id", "text")
    val flags = CurationStream.decontamFlags(docs, hits, 0.5, nDocs = 2L)
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(flags.sorted.toSeq == Seq((1L, true), (6L, false)))
  }

  test("TTL funnel: in-window dups swallowed, content re-admitted after TTL, near-dup drops within window") {
    val sp = spark
    import sp.implicits._
    // 8 stage-1-passing docs → n=8, ttl = 4 ticks, base spacing 2 ticks.
    // ids 1..8: doc 5 (id%5=0) re-emits in-window (swallowed — NOT in
    // output twice); doc 10 would re-emit far, but keep ids 1..8 so no
    // %10 far regime — instead craft a near-dup pair at rank distance 1
    // (Δt=2 ≤ ttl → later dropped) and one at distance 3 (Δt=6 > ttl →
    // both kept)
    val base = "the quick brown fox jumps over the lazy dog wanders"
    def v(i: Int, tail: String) = base + " " + tail
    val docs = Seq(
      (1L, v(1, "alpha")),
      (2L, v(2, "alpha beta")), // near-dup of 1, rank distance 1 → dropped
      (3L, "the cat sat on the mat and the dog sat too"),
      (4L, "the sun is up and the moon is down today"),
      (5L, "the red car and the blue car are in the lot"),
      (6L, "the river runs to the sea and the sea is wide"),
      (7L, "the old clock on the wall is slow and loud"),
      (8L, v(8, "alpha gamma delta")) // near-dup of 1?, distance 7 → kept if beyond ttl
    ).toDF("doc_id", "text")
    val out = CurationStream.replayFunnelTtl(spark, docs, col("doc_id"),
        col("text"), nBatches = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // base ticks: doc i at 2i; doc 5 also at 11 (in-window dup of itself —
    // swallowed by stage 2, so (5, 11) must NOT appear)
    assert(!out.contains((5L, 11L)), "in-window identical re-emit must be swallowed")
    assert(out.contains((5L, 10L)))
    // near-dup within ttl: doc 2 (tick 4) is Δt=2 ≤ 4 from doc 1 (tick 2)
    assert(out.contains((1L, 2L)) && !out.exists(_._1 == 2L),
      s"in-window near-dup must drop the later side: $out")
    // near-dup beyond ttl: doc 8 (tick 16) is Δt=14 > 4 from doc 1 → kept
    assert(out.exists(_._1 == 8L), s"beyond-ttl near-dup must be re-admitted: $out")
    // split invariance
    val out1 = CurationStream.replayFunnelTtl(spark, docs, col("doc_id"),
        col("text"), nBatches = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out1 == out)
  }

  test("TTL funnel media stage: either-modality drop, window-scoped, absent column is a no-op") {
    val sp = spark
    import sp.implicits._
    // 8 distinct-text stage-1 survivors (n=8, ttl = 4 ticks, base at 2i):
    // no text dups/near-dups at all — every drop below is the MEDIA stage's
    val texts = Seq(
      (1L, "the cat sat on the mat and the dog sat too"),
      (2L, "the sun is up and the moon is down today"),
      (3L, "the red car and the blue car are in the lot"),
      (4L, "the river runs to the sea and the sea is wide"),
      (5L, "the old clock on the wall is slow and loud"),
      (6L, "the green hill is far away and the path is long"),
      (7L, "the tall ship sails into the bay at dawn light"),
      (8L, "the small bird sings in the tree at noon time"))
    // sketches: docs 1 and 2 share a sketch (ticks 2,4: Δt=2 ≤ ttl → 2
    // drops); docs 3 and 8 share one (ticks 6,16: Δt=10 > ttl → both kept);
    // the rest are pairwise far (> 3 bits apart)
    val sk = Map(1L -> 0L, 2L -> 1L, 3L -> 255L, 8L -> 255L,
      4L -> 0xF0F0L, 5L -> 0xFF00FFL, 6L -> 0xF0F0F0F0L, 7L -> 0xFFFFFFFFL)
    val docs = texts.map { case (id, t) => (id, t, sk(id)) }
      .toDF("doc_id", "text", "sk")
    val (out, withMedia) = graft.tools.StreamStateProbe.stateOf(spark) {
      CurationStream.replayFunnelTtl(spark, docs, col("doc_id"),
          col("text"), nBatches = 3, skCol = Some(col("sk")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(!out.exists(_._1 == 2L),
      s"in-window media dup must drop the later occurrence: $out")
    assert(out.exists(_._1 == 3L) && out.exists(_._1 == 8L),
      s"beyond-ttl media pair must keep both sides: $out")
    Seq(1L, 4L, 6L, 7L).foreach(id =>
      assert(out.exists(_._1 == id), s"clean doc $id must be admitted"))
    // the media stage is a third stateful replay (exact, band, media)
    assert(withMedia.size == 3 && withMedia.forall(_.nonEmpty),
      s"state per stage: $withMedia")
    // no sketch column → identical to the text-only funnel; no media stage
    val (textOnly, textStages) = graft.tools.StreamStateProbe.stateOf(spark) {
      CurationStream.replayFunnelTtl(spark, docs, col("doc_id"),
          col("text"), nBatches = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(textOnly.map(_._1) == texts.map(_._1).toSet)
    assert(textStages.size == 2, s"state per stage: $textStages")
    // split invariance with the media stage on
    val out1 = CurationStream.replayFunnelTtl(spark, docs, col("doc_id"),
        col("text"), nBatches = 1, skCol = Some(col("sk")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out1 == out)
  }

  test("batch keep-best and streaming first-wins diverge exactly on the near-dup cluster") {
    val batch = graft.operators.Pipeline.curate(corpus, col("doc_id"),
        col("text"), benchPred = col("doc_id") === 10)
      .collect()
      .map(r => r.getLong(0) -> (1 to 6).map(i =>
        if (r.isNullAt(i)) None else Some(r.getBoolean(i))).toVector)
      .toMap
    val stream = flags(4)
    // keep-best prefers the longer doc 3; first-wins admitted doc 1 first
    assert(batch(3L)(3) == Some(true) && batch(1L)(3) == Some(false))
    assert(stream(1L)(3) == Some(true) && stream(3L)(3) == Some(false))
    // every doc OUTSIDE the divergent cluster carries identical flags
    Seq(2L, 4L).foreach(id => assert(batch(id) == stream(id), s"doc $id"))
    // doc 6 is decontam-checked in both, against the same benchmark index
    assert(batch(6L)(4) == Some(false) && stream(6L)(4) == Some(false))
  }
}
