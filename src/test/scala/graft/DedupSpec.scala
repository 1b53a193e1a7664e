package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, MediaRecord, Multimodal, Similarity}

/** Planted-duplicate tests for the training-data pipeline operators. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the sun sets slowly " +
      "behind the tall green hills and the river runs quietly through the valley floor"
    val nearDup = base.replace("quietly", "loudly") // one token differs
    val unrelated = "completely different content about spark shuffles partitions " +
      "catalyst codegen tungsten execution joins aggregates windows and state stores here"
    Seq(
      (0L, base, "srcA"),
      (1L, nearDup, "srcA"),
      (2L, unrelated, "srcA"),
      (3L, base, "srcB") // exact dup of 0, different block
    ).toDF("doc_id", "text", "source")
  }

  test("exact dedup groups identical texts under min id") {
    val out = Dedup.exact(docs(), col("doc_id"), col("text"))
      .orderBy(col("canonical_id")).collect()
    assert(out.map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_copies"))).toSeq ==
      Seq((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("exact dedup never shuffles the text column as an exchange key") {
    val out = Dedup.exact(docs(), col("doc_id"), col("text"))
    // explain text, not plan-node collect: AQE wraps executedPlan and
    // sparkPlan predates EnsureRequirements (no Exchange nodes yet)
    val partitionings = out.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("extended"))
      .linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(partitionings.nonEmpty, "plan must have exchanges")
    // the group key is the 48-byte content fingerprint; raw text must never
    // appear in any exchange's partitioning
    val textKeyed = partitionings.filter(_.contains("text#"))
    assert(textKeyed.isEmpty, s"text must never key an exchange: $partitionings")
  }

  test("hot band buckets are capped: a boilerplate cluster cannot go quadratic") {
    import spark.implicits._
    // 5000 near-identical docs: every band bucket holds ~all of them ->
    // 12.5M candidate pairs without the cap; with maxBucket=1000 each hot
    // bucket keeps only its first 1000 members by id (the same contract as
    // the streaming cold-bucket cap), so the candidate set is exactly the
    // pairs among docs 0..999 — bounded at K(K-1)/2, not B(B-1)/2
    val boiler = (0L until 5000L).map(i => (i, "all these documents share the " +
      "same boilerplate body text repeated verbatim across the whole cluster"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashNearDups(boiler, col("doc_id"), col("text"),
      maxBucket = 1000)
    assert(capped.count() == 1000L * 999L / 2,
      "cap must keep exactly the pairs among the first 1000 ids")
    assert(capped.agg(max(greatest(col("doc_a"), col("doc_b")))).head().getLong(0) < 1000L,
      "no doc beyond the cap may appear in any pair")
    val cappedSim = Dedup.simhashPairs(boiler, col("doc_id"), col("text"),
      maxBucket = 1000)
    assert(cappedSim.count() == 1000L * 999L / 2,
      "simhash cap keeps pairs among the first 1000 ids")
    // cap far above bucket size: behavior unchanged (all 300·299/2 pairs)
    val small = (0L until 300L).map(i => (i, "all these documents share the " +
      "same boilerplate body text repeated verbatim across the whole cluster"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDups(small, col("doc_id"), col("text"))
    assert(uncapped.count() == 300L * 299L / 2)
  }

  test("minhash LSH finds the near-dup pair and not the unrelated one") {
    val pairs = Dedup.minhashLsh(docs(), col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)), "near-dup must be found")
    assert(pairs.contains((0L, 3L)), "exact dup must be found")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
  }

  test("minhash signature of exact dup estimates jaccard 1.0") {
    val est = Dedup.minhashLsh(docs(), col("doc_id"), col("text"))
      .filter(col("doc_a") === 0 && col("doc_b") === 3)
      .collect().head.getAs[Double]("est_jaccard")
    assert(est == 1.0)
  }

  test("minhashNearDups emits exact jaccard and equals the unblocked exact answer") {
    val rows = Dedup.minhashNearDups(docs(), col("doc_id"), col("text"))
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double]("jaccard"))).toMap
    // exact dup: jaccard exactly 1.0 (verified score, not an estimate)
    assert(rows((0L, 3L)) == 1.0)
    // one-token edit over 3-shingles: 28 tokens -> 26 distinct shingles per
    // doc, the edit kills the 3 shingles covering the token -> 23/29
    assert(rows.contains((0L, 1L)) && math.abs(rows((0L, 1L)) - 23.0 / 29.0) < 1e-15)
    assert(rows.contains((1L, 3L)), "near-dup pairs across blocks are global")
    assert(!rows.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhashNearDups equals brute-force exact jaccard on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val pool = Vector.tabulate(120)(i => s"tok$i")
    for (trial <- 1 to 3) {
      // 40 base docs + mutated copies (drop/replace a few tokens) so the
      // corpus has pairs straddling the 0.5 threshold, not just dup/unrelated
      val bases = Vector.tabulate(40) { i =>
        (i.toLong, Vector.fill(15 + rnd.nextInt(25))(pool(rnd.nextInt(pool.size))))
      }
      val mutated = bases.take(15).map { case (id, toks) =>
        val t2 = toks.zipWithIndex.map { case (t, j) =>
          if (rnd.nextDouble() < 0.12) pool(rnd.nextInt(pool.size)) else t
        }
        (id + 1000L, t2)
      }
      val all = bases ++ mutated
      val df = all.map { case (id, toks) => (id, toks.mkString(" ")) }.toDF("doc_id", "text")
      val got = Dedup.minhashNearDups(df, col("doc_id"), col("text"))
        .collect()
        .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double]("jaccard")))
        .toMap
      // brute-force oracle in plain Scala
      def shingles(toks: Vector[String]): Set[String] =
        if (toks.size < 3) Set.empty
        else toks.sliding(3).map(_.mkString(" ")).toSet
      val sh = all.map { case (id, toks) => id -> shingles(toks) }
      val want = (for {
        (ia, sa) <- sh; (ib, sb) <- sh
        if ia < ib && sa.nonEmpty && sb.nonEmpty
        inter = sa.intersect(sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.5
      } yield (ia, ib) -> j).toMap
      assert(want.nonEmpty, s"trial $trial must plant pairs above threshold")
      assert(got == want, s"trial $trial: LSH-verified=${got.keySet} exact=${want.keySet}")
    }
  }

  test("minBandMatches floor: verified output identical at floor 1 and 2") {
    // the >= 2 shared-bands candidate floor exists to strip the quadratic
    // accidental-collision mass (the 100x probe pathology) BEFORE the
    // shingle-verify joins — it must not change what verifies: at
    // J >= 0.5 a pair shares ~16 of 64 bands, so floor 2 loses nothing
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val pool = Vector.tabulate(60)(i => s"w$i")
    val bases = Vector.tabulate(60) { i =>
      (i.toLong, Vector.fill(10 + rnd.nextInt(30))(pool(rnd.nextInt(pool.size))))
    }
    val dups = bases.take(20).map { case (id, toks) =>
      (id + 500L, toks.map(t =>
        if (rnd.nextDouble() < 0.1) pool(rnd.nextInt(pool.size)) else t))
    }
    val df = (bases ++ dups).map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")
    def pairs(floor: Int) = Dedup.minhashNearDups(df, col("doc_id"),
        col("text"), minBandMatches = floor)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Double]("jaccard"))).toMap
    val unfloored = pairs(1)
    assert(unfloored.nonEmpty)
    assert(pairs(2) == unfloored)
  }

  test("simhash pairs near-dups with small hamming, skips unrelated") {
    val rows = Dedup.simhashPairs(docs(), col("doc_id"), col("text"), maxHamming = 3)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Long]("hamming"))).toMap
    assert(rows.contains((0L, 3L)) && rows((0L, 3L)) == 0L, "exact dup has hamming 0")
    assert(rows.contains((0L, 1L)), "near-dup within hamming 3")
    assert(!rows.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ngram jaccard respects blocking and scores the near-dup high") {
    val rows = Dedup.ngramJaccardPairs(docs(), col("doc_id"), col("text"), col("source"))
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double]("jaccard"))).toMap
    assert(rows.contains((0L, 1L)) && rows((0L, 1L)) > 0.7)
    assert(!rows.contains((0L, 3L)), "cross-block pair must be blocked out")
    assert(!rows.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("LSH KNN returns true-cosine scores and respects bucket recall vs brute force") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val brute = Similarity.bruteForceKnn(emb, col("vec_id") < 3, k = 10).collect()
      .map(r => ((r.getAs[Long]("qid"), r.getAs[Long]("vec_id")), r.getAs[Double]("score"))).toMap
    val approx = Similarity.lshKnn(emb, col("vec_id") < 3, k = 10, planes = 4).collect()
    assert(approx.nonEmpty)
    // every approx neighbour's score must equal the exact cosine when the
    // pair also appears in the brute-force top-k
    approx.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))
      brute.get(key).foreach(exact => assert(math.abs(exact - r.getAs[Double]("score")) < 1e-12))
    }
    // rn must be dense 1..n per query
    approx.groupBy(_.getAs[Long]("qid")).values.foreach { rows =>
      val rns = rows.map(_.getAs[Long]("rn")).sorted
      assert(rns.toSeq == (1L to rns.length).toSeq)
    }
  }

  test("multimodal stub decode is deterministic and frame sampling covers payload") {
    import spark.implicits._
    val media = Seq(
      MediaRecord(1L, "image", "hello world bytes".getBytes("UTF-8"), Map("f" -> "jpg")),
      MediaRecord(2L, "video", Array.fill[Byte](2500)(7), Map.empty)
    ).toDS()
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats(0).n_bytes == 17L && feats(0).duration_ms == 0L)
    assert(feats(1).n_bytes == 2500L && feats(1).duration_ms == 2500L)
    assert(feats(0).width == 16 * (1 + 'h' % 64))
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.toSeq == again.toSeq)
    val frames = Multimodal.sampleFrames(media, everyNthByte = 1000).collect()
    assert(frames.length == 3) // offsets 0, 1000, 2000 for the 2500-byte video
  }

  test("multimodal metaOnly prunes the bytes column at the parquet scan") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("media")
    Seq(
      MediaRecord(1L, "image", Array.fill[Byte](64)(1), Map("f" -> "jpg"))
    ).toDS().write.mode("overwrite").parquet(dir)
    val plan = Multimodal.metaOnly(spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("bytes"),
      s"bytes must not reach the scan: $readSchema")
  }

  test("multimodal resize stub bounds image payloads and tags metadata") {
    import spark.implicits._
    val media = Seq(
      MediaRecord(1L, "image", Array.fill[Byte](10000)(3), Map("f" -> "jpg")),
      MediaRecord(2L, "audio", Array.fill[Byte](10000)(5), Map.empty)
    ).toDS()
    val out = Multimodal.resize(media, w = 64, h = 64).collect().sortBy(_.media_id)
    val img = out(0)
    assert(img.bytes.length <= 64 * 64 / 8 + 1, "image payload must shrink to the stub budget")
    assert(img.meta("resized_w") == "64" && img.meta("resized_h") == "64")
    assert(out(1).bytes.length == 10000 && out(1).meta.isEmpty,
      "non-image payloads pass through untouched")
    // deterministic: same input, same bytes
    val again = Multimodal.resize(media, 64, 64).collect().sortBy(_.media_id)
    assert(img.bytes.toSeq == again(0).bytes.toSeq)
  }

  test("real PNG decode: encodePng round-trips through decodeImageDims and decodeOne") {
    val png = Multimodal.encodePng(24, 17, 42)
    assert(Multimodal.decodeImageDims(png).contains((24, 17)))
    val feats = Multimodal.decodeOne(MediaRecord(9L, "image", png, Map.empty))
    assert(feats.width == 24 && feats.height == 17 && feats.duration_ms == 0L)
    assert(feats.n_bytes == png.length.toLong)
    // payloads without a PNG/JPEG magic prefix never reach ImageIO: the
    // decode is None and decodeOne keeps the deterministic stub dims
    val txt = "hello world payload".getBytes("UTF-8")
    assert(Multimodal.decodeImageDims(txt).isEmpty)
    val stub = Multimodal.decodeOne(MediaRecord(10L, "image", txt, Map.empty))
    assert(stub.width == 16 * (1 + ('h' % 64)))
  }

  test("real resize: PNG payloads re-encode at the target dims") {
    import spark.implicits._
    val media = Seq(
      MediaRecord(1L, "image", Multimodal.encodePng(33, 21, 7), Map.empty),
      MediaRecord(2L, "audio", Array.fill[Byte](100)(5), Map.empty)
    ).toDS()
    val out = Multimodal.resize(media, w = 20, h = 14).collect().sortBy(_.media_id)
    assert(Multimodal.decodeImageDims(out(0).bytes).contains((20, 14)))
    assert(out(0).meta("resized_w") == "20" && out(0).meta("resized_h") == "14")
    assert(out(1).bytes.length == 100, "non-image payloads pass through untouched")
  }

  test("connected components: chain + triangle + isolated pair resolve to component mins") {
    import spark.implicits._
    // chain 10-11-12-13-14 (diameter 4 exercises >1 round), triangle
    // 20-21-22, pair 30-31; ids deliberately non-contiguous
    val pairs = Seq(
      (11L, 10L), (11L, 12L), (13L, 12L), (14L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (31L, 30L)
    ).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component_id"))).toMap
    assert((10L to 14L).forall(cc(_) == 10L), s"chain: $cc")
    assert((20L to 22L).forall(cc(_) == 20L), s"triangle: $cc")
    assert(cc(30L) == 30L && cc(31L) == 30L, s"pair: $cc")
    assert(cc.size == 10)
  }

  test("connected components: reliable checkpoint dir yields identical labels") {
    import spark.implicits._
    val pairs = Seq(
      (11L, 10L), (11L, 12L), (13L, 12L), (14L, 13L),
      (20L, 21L), (21L, 22L), (31L, 30L)).toDF("doc_a", "doc_b")
    val dir = TestSpark.tmpDir("cc_ckpt")
    try {
      val local = Dedup.connectedComponents(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(reliable == local)
      // the reliable path actually wrote checkpoint data — into the
      // context's EFFECTIVE dir (set-only-when-unset: an earlier
      // operator's dir wins in the shared test session)
      assert(TestSpark.effectiveCheckpointFiles() > 0,
        "checkpoint dir must contain materialized RDD data")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("connected components converge in log rounds on a long path graph") {
    import spark.implicits._
    // worst case for plain min-propagation: a 300-node path needs ~300
    // rounds without pointer jumping; with it, well under the 25-round cap
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(path).collect()
    assert(cc.length == 300 && cc.forall(_.getAs[Long]("component_id") == 0L))
  }

  test("connected components match a union-find oracle on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 120 + trial * 40
      val edges = Seq.fill(n) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // local union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      // find() uses min-root union, so the root IS the component min
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id"))
        .toMap
      assert(got == expect, s"trial $trial: ${got.size} vs ${expect.size}")
    }
  }

  test("dupGroups maps singletons to themselves and flags canonical docs") {
    val pairs = Dedup.minhashNearDups(docs(), col("doc_id"), col("text"))
    val g = Dedup.dupGroups(docs(), col("doc_id"), pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("component_id"), r.getAs[Boolean]("keep")))).toMap
    // 0,1,3 are one near-dup cluster (exact dup + one-token edit); 2 is alone
    assert(g(0L) == ((0L, true)) && g(1L) == ((0L, false)) && g(3L) == ((0L, false)))
    assert(g(2L) == ((2L, true)))
  }

  test("dupGroupsBest keeps the highest-quality member, min-id on ties") {
    import spark.implicits._
    val pairs = Dedup.minhashNearDups(docs(), col("doc_id"), col("text"))
    // quality: doc 1 (the one-token edit) scores highest in the 0/1/3 cluster
    val quality = when(col("doc_id") === 1L, 10L).otherwise(5L)
    val g = Dedup.dupGroupsBest(docs(), col("doc_id"), quality, pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("canonical_id"), r.getAs[Boolean]("keep")))).toMap
    assert(g(1L) == ((1L, true)) && g(0L) == ((1L, false)) && g(3L) == ((1L, false)))
    assert(g(2L) == ((2L, true))) // singleton keeps itself
    // equal quality everywhere -> ties break to the MIN doc id (0), matching
    // dupGroups' canonical choice
    val tied = Dedup.dupGroupsBest(docs(), col("doc_id"), lit(1L), pairs)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id"))).toMap
    assert(tied(0L) == 0L && tied(1L) == 0L && tied(3L) == 0L && tied(2L) == 2L)
  }
}
