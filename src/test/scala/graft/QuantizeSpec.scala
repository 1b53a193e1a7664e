package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Quantize, Retrieval, Similarity}

/** Int8 quantization codec contracts + quantized-ANN quality, over the real
  * sf0.001 embeddings fixture, plus BM25 scoring sanity on a hand corpus.
  */
class QuantizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def emb = Tables.load(spark, dir, "embeddings")

  test("codec: codes bounded by ±127 and reconstruction error within scale/2") {
    val q = Quantize.quantize(emb, col("vec_id"), col("embedding"))
    val bad = q
      .select(col("vec_id"), col("scale"),
        array_max(transform(col("codes"), c => abs(c))).as("amax_code"))
      .filter(col("amax_code") > 127)
    assert(bad.count() == 0, "codes must stay in int8 range")
    // max |v_j - code_j*scale| <= scale/2 per vector (round-half-up bound)
    val err = emb.select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("v"))
      .join(q, Seq("vec_id"))
      .select(col("scale"), array_max(zip_with(col("v"), col("codes"),
        (x, c) => abs(x - c.cast("double") * col("scale")))).as("maxerr"))
      .filter(col("maxerr") > col("scale") * 0.5 + lit(1e-12))
    assert(err.count() == 0, "dequantization error must be within scale/2")
  }

  test("codec: staged quantize equals the inlined spelling bit-for-bit") {
    import org.apache.spark.sql.DataFrame
    // r17 staging binds the cast vector and amax behind aliases; this pins
    // the staged output against the original inlined expression tree
    // (identical arithmetic, so doubles and codes must match exactly),
    // over the real fixture plus zero-vector and null-vector edges.
    def inlined(df: DataFrame): DataFrame = {
      val v = Similarity.toDouble(col("embedding"))
      val amax = array_max(transform(v, abs(_)))
      val scale = amax / lit(127.0)
      df.select(col("vec_id"),
        when(amax === 0.0, lit(0.0)).otherwise(scale).as("scale"),
        when(amax === 0.0, transform(v, _ => lit(0L)))
          .otherwise(transform(v, x => floor(x / scale + lit(0.5)).cast("long")))
          .as("codes"))
    }
    import spark.implicits._
    val edges = Seq((900001L, Array(0f, 0f, 0f)),
        (900002L, null.asInstanceOf[Array[Float]]),
        (900003L, Array(1e-30f, -1e30f, 0.3f)))
      .toDF("vec_id", "embedding")
    for (df <- Seq(emb.select(col("vec_id"), col("embedding")), edges)) {
      val got = Quantize.quantize(df, col("vec_id"), col("embedding"))
        .orderBy("vec_id").collect()
      val want = inlined(df).orderBy("vec_id").collect()
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    }
  }

  test("codec: quantizing a zero vector yields zero codes and zero scale") {
    import spark.implicits._
    val z = Seq((0L, Array(0f, 0f, 0f)), (1L, Array(1f, -2f, 0.5f)))
      .toDF("vec_id", "embedding")
    val rows = Quantize.quantize(z, col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).collect()
    assert(rows(0).getAs[Double]("scale") == 0.0)
    assert(rows(0).getSeq[Long](2).forall(_ == 0L))
    // amax component maps to ±127 exactly
    assert(rows(1).getSeq[Long](2).contains(-127L))
  }

  test("quantizedKnn: recall@10 >= 0.8 vs brute force, scores bit-identical") {
    val exact = Similarity.bruteForceKnn(emb, col("vec_id") < 5, k = 10)
      .select(col("qid"), col("vec_id"), col("score"))
    val quant = Quantize.quantizedKnn(emb, col("vec_id") < 5, k = 10)
      .select(col("qid"), col("vec_id"), col("score").as("score_q"))
    val j = exact.join(quant, Seq("qid", "vec_id"), "inner")
    val n = exact.count()
    val hit = j.count()
    assert(n > 0 && hit >= n * 0.8, s"recall ${hit.toDouble / n} below 0.8")
    assert(j.filter(col("score") =!= col("score_q")).count() == 0,
      "rescored cosines must equal brute-force scores bit-for-bit")
  }

  test("pqEncode: codes in range, deterministic, and reconstruction-nearest") {
    val books = Quantize.pqCodebooks(emb, m = 8, k = 16)
    assert(books.length == 8 && books.forall(_.length == 16))
    val codes = Quantize.pqEncode(emb, col("vec_id"), col("embedding"), books)
    val rows = codes.collect()
    assert(rows.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
    val again = Quantize.pqEncode(emb, col("vec_id"), col("embedding"), books)
      .collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted),
      "encoding must be deterministic")
  }

  test("pqKnn: recall@10 >= 0.6 vs brute force, rescored scores bit-identical") {
    val exact = Similarity.bruteForceKnn(emb, col("vec_id") < 5, k = 10)
      .select(col("qid"), col("vec_id"), col("score"))
    val pq = Quantize.pqKnn(emb, col("vec_id") < 5, k = 10)
      .select(col("qid"), col("vec_id"), col("score").as("score_q"))
    val j = exact.join(pq, Seq("qid", "vec_id"), "inner")
    val n = exact.count()
    val hit = j.count()
    assert(n > 0 && hit >= n * 0.6, s"recall ${hit.toDouble / n} below 0.6")
    assert(j.filter(col("score") =!= col("score_q")).count() == 0)
  }

  test("ivfPqKnn: recall within 0.1 of ivfKnn, equal at full oversample, exact scores") {
    val exact = Similarity.bruteForceKnn(emb, col("vec_id") < 5, k = 10)
      .select(col("qid"), col("vec_id"), col("score"))
    val ivfpq = Quantize.ivfPqKnn(emb, col("vec_id") < 5, k = 10, nprobe = 16)
      .select(col("qid"), col("vec_id"), col("score").as("score_q"))
    val ivf = Similarity.ivfKnn(emb, col("vec_id") < 5, k = 10, nprobe = 16)
      .select(col("qid"), col("vec_id"))
    val n = exact.count()
    val hitPq = exact.join(ivfpq, Seq("qid", "vec_id")).count()
    val hitIvf = exact.join(ivf, Seq("qid", "vec_id")).count()
    // the coarse quantizer limits recall on this fixture; the contract is
    // that the PQ stage (codes + LUT + oversampled rescore) gives back
    // nearly everything its own coarse quantizer admits
    assert(n > 0 && hitPq >= n * 0.3, s"recall ${hitPq.toDouble / n} below 0.3")
    assert(hitPq >= hitIvf - n * 0.1,
      s"PQ stage lost more than 0.1 recall: ivfpq=$hitPq ivf=$hitIvf n=$n")
    val j = exact.join(ivfpq, Seq("qid", "vec_id"))
    assert(j.filter(col("score") =!= col("score_q")).count() == 0,
      "rescored scores must be bit-identical to brute force")
    // both indexes share one coarse quantizer: once k·oversample covers
    // every probed candidate (the fixture has 500 vectors), the PQ
    // shortlist drops nothing and the rescore ranks exactly what ivfKnn
    // ranks
    val full = Quantize.ivfPqKnn(emb, col("vec_id") < 5, k = 10, nprobe = 16,
      oversample = 50).orderBy("qid", "rn").collect()
    val plain = Similarity.ivfKnn(emb, col("vec_id") < 5, k = 10, nprobe = 16)
      .orderBy("qid", "rn").collect()
    assert(plain.nonEmpty && full.sameElements(plain),
      s"full-oversample ivfPqKnn != ivfKnn:\n${full.mkString("\n")}\nvs\n${plain.mkString("\n")}")
  }

  test("bm25: higher tf scores higher; absent term contributes no row") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spark spark spark row row"),
      (1L, "spark row row row row"),
      (2L, "table table table table table")).toDF("doc_id", "text")
    val sc = Retrieval.bm25(docs, col("doc_id"), col("text"), Seq("spark"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(sc.contains(0L) && sc.contains(1L) && !sc.contains(2L))
    assert(sc(0L) > sc(1L), "tf=3 must outscore tf=1 at equal length")
    assert(sc.values.forall(_ > 0), "Lucene-form idf is always positive")
  }
}
