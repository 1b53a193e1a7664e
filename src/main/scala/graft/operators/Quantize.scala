package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization of embedding columns — the memory/bandwidth
  * rung below exact doubles on the similarity ladder: a 64-dim float vector
  * (256 B) becomes 64 int8 codes + one scale (~72 B at rest), and candidate
  * scoring becomes an exact integer dot (associative, overflow-free — see
  * [[graft.functions.DotProductL]]) times two scales. At 100 TB this is the
  * difference between shuffling/caching the corpus' vectors and a ~4×
  * smaller sketch of them; rescoring the surviving candidates with the
  * full-precision vectors (fetched by id) recovers exact ordering.
  *
  * Codec (deterministic, engine-portable — mirrored op-for-op by the q78
  * DuckDB oracle):
  *   amax  = max_j |v_j|            (exact float→double casts)
  *   scale = amax / 127.0
  *   code_j = floor(v_j / scale + 0.5)   ∈ [-127, 127]   (zero vector → 0s)
  * `floor(x + 0.5)` (round-half-up) rather than `round()`: both engines
  * floor identically on doubles, while round()'s half-case convention is
  * library-defined. Codes ride as array<bigint> in-plan (Spark's floor
  * type); at rest a writer would pack them to tinyint/binary.
  */
object Quantize {

  /** (vec_id, scale, codes) for every row of `emb`. Pure codegen'd column
    * map over the scan — no shuffle, no driver probe.
    *
    * Staged like [[Pca.transform]] (r17): the inlined spelling evaluated
    * the cast vector 3× per row and — far worse — re-evaluated the whole
    * `array_max(transform(v, abs))` amax chain once PER OUTPUT ELEMENT
    * inside the codes lambda (the scale expression rode into the
    * interpreted `transform`, the r16 graft_bands duplication class). Two
    * stacked projects bind the vector and amax once; CollapseProject does
    * not re-inline a non-cheap alias consumed more than once. Same
    * arithmetic over the same bound values — codes/scale bit-identical
    * (QuantizeSpec pins the staged ≡ inlined equality).
    */
  def quantize(emb: DataFrame, idCol: Column, vecCol: Column): DataFrame = {
    val staged = emb
      .select(idCol.as("vec_id"), Similarity.toDouble(vecCol).as("_v"))
      .select(col("vec_id"), col("_v"),
        array_max(transform(col("_v"), abs(_))).as("_amax"))
    staged.select(
      col("vec_id"),
      when(col("_amax") === 0.0, lit(0.0))
        .otherwise(col("_amax") / lit(127.0)).as("scale"),
      when(col("_amax") === 0.0, transform(col("_v"), _ => lit(0L)))
        .otherwise(transform(col("_v"),
          x => floor(x / (col("_amax") / lit(127.0)) + lit(0.5)).cast("long")))
        .as("codes"))
  }

  /** Product-quantization codebooks: the embedding space split into `m`
    * contiguous subspaces of dim/m dims; each subspace gets `k` centroids —
    * the subvectors of the k hash-smallest rows (xxhash64(vec_id): a
    * seedless deterministic sample — no training iteration,
    * bit-reproducible). Collected once driver-side: m·k·(dim/m) doubles ≈
    * KBs at any corpus size.
    */
  private[graft] def pqCodebooks(emb: DataFrame, m: Int, k: Int): Array[Array[Seq[Double]]] = {
    val sample = emb
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    // fail fast with a usable message (operator argument contract) instead
    // of an ArrayIndexOutOfBounds deep inside plan build
    require(sample.length >= k,
      s"pq codebooks need >= $k corpus vectors (codebookSize), got ${sample.length}")
    val sub = sample.head.size / m
    Array.tabulate(m, k)((s, c) => sample(c).slice(s * sub, (s + 1) * sub))
  }

  /** Flatten codebooks to the [(s·k + c)·sub + j] layout the native PQ
    * kernels take as one literal.
    */
  private def flatBooks(codebooks: Array[Array[Seq[Double]]]): Seq[Double] =
    codebooks.iterator.flatMap(_.iterator.flatMap(_.iterator)).toSeq

  /** PQ-encode every vector: code_s = index of the L2-nearest centroid of
    * subvector s (ties → lowest index), via the native graft_pqencode
    * kernel — ONE expression carrying the whole codebook as a flat literal
    * and running the m·k·(dim/m) multiply-adds in a tight loop. The
    * expression-tree alternative (m·k literal-vector dot nodes) shipped an
    * ~11 MiB task binary and took 10× the wall time at 256-entry books.
    * Output: (vec_id, codes array<int> of length m) — dim doubles become m
    * small ints: a 64-dim vector compresses 64× (512 B → 8 B) vs int8's 4×.
    * Pure map over the scan.
    */
  def pqEncode(emb: DataFrame, idCol: Column, vecCol: Column,
      codebooks: Array[Array[Seq[Double]]]): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val k = codebooks(0).length
    val sub = codebooks(0)(0).size
    emb.select(idCol.as("vec_id"),
      call_function("graft_pqencode", Similarity.toDouble(vecCol),
        typedLit(flatBooks(codebooks)).cast("array<double>"),
        lit(sub), lit(k)).as("codes"))
  }

  /** [[pqCodebooks]] refined by `iters` Lloyd steps on a deterministic
    * sample — the standard codebook training (faiss trains on a sample,
    * not the corpus): the hash-smallest `sampleSize` vectors are collected
    * once (bounded KBs–MBs, independent of corpus size) and k-means runs
    * per subspace in plain Scala on the driver. Deterministic end-to-end:
    * hash-ordered sample, hash-ordered init, lowest-index tie-breaks,
    * empty clusters keep their old centroid.
    *
    * Measured (`Probe recall`): training helps small corpora (sf0.001 recall@10
    * 0.98 → 1.00) but HURTS the large one (sf0.1 0.92 → 0.88 — the books
    * overfit the 4096-row sample's density and lose tail coverage), so
    * [[pqKnn]] defaults to the sampled books (trainIters = 0); pass
    * trainIters > 0 with a sample sized to the corpus when training is
    * known to help.
    */
  private[graft] def pqCodebooksTrained(emb: DataFrame, m: Int, k: Int,
      sampleSize: Int = 4096, iters: Int = 5): Array[Array[Seq[Double]]] = {
    val sample = emb
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h")).limit(sampleSize)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"pq trained codebooks need >= $k sample vectors, got ${sample.length}")
    val dim = sample.head.length
    val sub = dim / m
    Array.tabulate(m) { s =>
      val pts = sample.map(v => v.slice(s * sub, (s + 1) * sub))
      var cents = pts.take(k).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var j = 0
            while (j < sub) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < sub) { sums(best)(j) += p(j); j += 1 }
        }
        cents = Array.tabulate(k)(c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c)))
        it += 1
      }
      cents.map(_.toSeq)
    }
  }

  /** PQ approximate top-k with asymmetric-distance scoring and exact
    * rescore — the IVF-PQ inner loop as a Spark plan. Per query, a lookup
    * table lut[s][c] = ⟨q_s, centroid_s,c⟩ (m·k dots of dim/m — computed
    * once per query, broadcast with it); a candidate's approximate score is
    * Σ_s lut[s][code_s] = ⟨q, reconstruction(codes)⟩ — m array lookups per
    * pair instead of a dim-length dot over data that is 64× smaller at
    * rest. Top k·oversample survive to the exact cosine rescore (fetched by
    * id, bit-identical scores — same contract as [[quantizedKnn]]).
    *
    * The LUT lookup runs through the native [[graft.functions.PqScore]]
    * kernel (codegen'd — the interpreted HOF fold it replaced was the last
    * interpreted inner loop on the ANN hot paths); the candidate set is
    * bounded by the broadcast query side and the map-side partial of
    * [[Similarity.shortlist]], so the exchange carries ≤ k·oversample rows
    * per query per partition.
    *
    * Defaults (m=8, 256-entry codebooks, 16× oversample) measured: recall@10
    * vs brute force = 0.98 / 1.00 / 0.92 at sf0.001/0.01/0.1 (`Probe recall`).
    * Codebook resolution must grow with corpus density — 16-entry books
    * that score 0.82 on 2.5k vectors score 0.34 on 25k; 256 entries is the
    * probe-backed default for these fixtures, and a real deployment trains
    * books per corpus (k-means on a sample — Kmeans.fit here) instead of
    * sampling rows.
    */
  def pqKnn(emb: DataFrame, queryPred: Column, k: Int,
      m: Int = 8, codebookSize: Int = 256, oversample: Int = 16,
      trainIters: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val books =
      if (trainIters > 0) pqCodebooksTrained(emb, m, codebookSize, iters = trainIters)
      else pqCodebooks(emb, m, codebookSize)
    val codes = pqEncode(emb, col("vec_id"), col("embedding"), books)
    val e = Similarity.normed(emb)
    val sub = books(0)(0).size
    // per-query LUT, flattened [s*k + c]: the native kernel computes the
    // m·k small dots in one loop on the (few) query rows only
    val lutCol = call_function("graft_pqlut", col("v"),
      typedLit(flatBooks(books)).cast("array<double>"), lit(sub),
      lit(codebookSize))
    val q = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        lutCol.as("lut"))
    val approx = broadcast(q.select(col("qid"), col("lut")))
      .join(codes, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        call_function("graft_pqscore", col("codes"), col("lut"),
          lit(codebookSize)).as("score"))
    Similarity.rescore(Similarity.shortlist(approx, k * oversample), q, e, k)
  }

  /** IVF-PQ approximate top-k — the composition a 100 TB ANN deployment
    * actually runs (the faiss IVFPQ shape): the IVF coarse quantizer prunes
    * WHICH vectors are scanned (only the `nprobe` probed cells' inverted
    * lists — nprobe/cells of the corpus instead of [[pqKnn]]'s full-corpus
    * code scan) and PQ shrinks WHAT is scanned (m-byte codes, asymmetric-
    * distance LUT scoring via the codegen'd graft_pqscore), with an exact
    * cosine rescore of the oversampled survivors (bit-identical scores —
    * the q97 gate, same contract as [[pqKnn]]/[[quantizedKnn]]).
    *
    * Scale shape: ONE corpus scan assigns the cell AND PQ-encodes, both
    * pure scan-side maps, so the whole index is (vec_id, cell, codes) ≈
    * 16+m bytes per vector; queries broadcast (few rows, each carrying its
    * LUT); the candidate join touches only probed cells; the bounded
    * [[Similarity.shortlist]] keeps the exchange ≤ k·oversample rows per
    * query per partition; only survivors' full vectors are fetched for the
    * rescore. The coarse quantizer is [[Similarity.ivfKnn]]'s own
    * ([[Similarity.coarseCells]]) and the codebooks are [[pqCodebooks]]' —
    * deterministic hash-smallest samples collected once (KBs), inlined as
    * literals. With an `oversample` whose k·oversample covers every probed
    * candidate, the result equals same-`cells`/`nprobe` ivfKnn row for row
    * (QuantizeSpec), so any recall gap to ivfKnn is the PQ stage's loss.
    *
    * Measured (`Probe recall`, recall@10 vs brute force, embeddings fixture,
    * sf0.001/0.01/0.1): nprobe=8 → 0.44/0.36/0.54, the same figures as
    * plain ivfKnn at that nprobe; [[pqKnn]] alone reads 0.98/1.00/0.92.
    * The coarse quantizer is the recall limiter: this fixture is
    * near-uniform, so recall tracks the scanned share (nprobe/cells) plus
    * locality — nprobe=16 → 0.56/0.52/0.68. On clustered corpora (the IVF
    * use case) recall follows ivfKnn's ≥ 0.9 (SimilaritySpec). The q97
    * gate runs nprobe=16 with floor 0.3 and additionally pins recall ≥
    * same-nprobe ivfKnn − 0.1, which bounds the PQ stage's loss. Tuning dials are faiss's: nprobe (scan share),
    * codebookSize (code resolution), oversample (rescore pool).
    */
  def ivfPqKnn(emb: DataFrame, queryPred: Column, k: Int,
      cells: Int = 64, nprobe: Int = 8,
      m: Int = 8, codebookSize: Int = 256, oversample: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val books = pqCodebooks(emb, m, codebookSize)
    val booksLit = typedLit(flatBooks(books)).cast("array<double>")
    val sub = books(0)(0).size
    val e = Similarity.normed(emb)
    val cc = Similarity.coarseCells(emb, cells)
    val index = e.select(col("vec_id"), cc.assign.as("cell"),
      call_function("graft_pqencode", col("v"), booksLit, lit(sub),
        lit(codebookSize)).as("codes"))
    val q = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        call_function("graft_pqlut", col("v"), booksLit, lit(sub),
          lit(codebookSize)).as("lut"),
        cc.probe(nprobe).as("pr"))
    val probes = q.select(col("qid"), col("lut"),
      explode(col("pr")).as("cell"))
    // each vector lives in exactly one cell, so (qid, vec_id) meets at most
    // once — no candidate dedup needed
    val approx = broadcast(probes).join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        call_function("graft_pqscore", col("codes"), col("lut"),
          lit(codebookSize)).as("score"))
    Similarity.rescore(Similarity.shortlist(approx, k * oversample), q, e, k)
  }

  /** Approximate top-k by quantized score, exact-rescored: per query, the
    * top `k·oversample` candidates by `scale_q·scale_v·graft_doti(codes)`
    * (integer dot — exact, order-independent) survive to an exact cosine
    * rescore over the full-precision vectors, fetched by id. Output shape
    * matches [[Similarity.bruteForceKnn]]: (qid, vec_id, score, rn) with
    * bit-identical scores on every returned pair (the rescore runs the same
    * [[graft.functions.DotProductD]] arithmetic).
    *
    * Scale shape: the corpus is scanned once through the quantized
    * projection (≈4× less data than the double vectors); the candidate
    * top-k·oversample runs through the bounded [[Similarity.shortlist]]
    * (map-side partial, ≤ k·oversample rows per query per partition on the
    * exchange); only candidates' full vectors are fetched for the rescore.
    * Quality contract: recall@k vs brute force is gated in q79 (the int8
    * approximation's rank error is what oversampling absorbs).
    */
  def quantizedKnn(emb: DataFrame, queryPred: Column, k: Int,
      oversample: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val quant = quantize(emb, col("vec_id"), col("embedding"))
    val q = quant.where(queryPred)
      .select(col("vec_id").as("qid"), col("scale").as("q_scale"),
        col("codes").as("q_codes"))
    // broadcast the (few) quantized queries; the corpus side never shuffles
    // until the bounded per-query top-k aggregate
    val approx = broadcast(q).join(quant, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (col("q_scale") * col("scale") *
          call_function("graft_doti", col("q_codes"), col("codes"))
            .cast("double")).as("score"))
    // exact rescore of the surviving sliver only
    val e = Similarity.normed(emb)
    Similarity.rescore(Similarity.shortlist(approx, k * oversample),
      e.where(queryPred)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm")),
      e, k)
  }
}
