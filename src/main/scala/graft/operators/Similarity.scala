package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Paths (SURVEY-mandated pipeline ops):
  *   - [[bruteForceKnn]]: exact cosine top-k — the correctness baseline;
  *     O(|Q|·n) with the query side broadcast, embeddings scanned once.
  *   - [[lshKnn]]: OR-amplified random-hyperplane LSH — the 100 TB path:
  *     `tables` independent hash tables of `planes` sign bits each; a
  *     candidate meets a query if they share ≥1 bucket in ≥1 table, then
  *     exact cosine rerank. Recall for a pair at angle θ is
  *     1 − (1 − (1 − θ/π)^planes)^tables; raise `planes` with corpus size
  *     (bucket count 2^planes) and `tables` to buy recall back.
  *   - [[cosineDupPairs]]: EXACT threshold self-join. All-pairs compute is
  *     intrinsically O(n²); the block-pair equi-join distributes it across
  *     the cluster (shuffle on a synthetic block-pair key, ~blocks/2×
  *     replication per side) instead of broadcasting the corpus through a
  *     BroadcastNestedLoopJoin. For corpora where exact is unaffordable,
  *     [[cosineDupPairsLsh]] is the approximate scale path.
  *
  * All cosine arithmetic goes through the native codegen'd
  * [[graft.functions.DotProductD]] — bit-identical to the sequential
  * `aggregate(zip_with(a, b, *), 0d, +)` fold and DuckDB's
  * `list_dot_product`, on every path, so exact/approximate results agree
  * score-for-score.
  */
object Similarity {

  /** array<float> → array<double>, so products/sums run in double. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Native codegen dot product ([[graft.functions.DotProductD]]). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** (qid, vec_id, score) candidates → (qid, vec_id, score, rn), rn = 1..k
    * by (score desc, vec_id asc), via the bounded [[graft.functions
    * .TopKOrdered]] aggregate: partial top-k runs map-side, so the exchange
    * carries ≤ k candidates per query per partition and no full candidate
    * set is ever sorted — the window row_number() alternative shuffles and
    * sorts every candidate of every query. The negated id inside the
    * ordering struct turns the aggregate's descending order into the
    * ascending-id tie-break.
    */
  private[operators] def topkOf(cand: DataFrame, k: Int): DataFrame =
    cand
      .groupBy(col("qid"))
      .agg(call_function("graft_topk",
        struct(col("score"), (-col("vec_id")).as("nid"), col("vec_id").as("vec_id")),
        lit(k)).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.vec_id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rn"))
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))

  /** The (vec_id, v, nrm) frame every KNN path scores over: the embedding
    * as doubles plus its norm.
    */
  private[graft] def normed(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** The filter stage's bounded candidate set: (qid, score, vec_id)
    * approximate scores → the (qid, vec_id) of each query's top `n`.
    */
  private[operators] def shortlist(approx: DataFrame, n: Int): DataFrame =
    topkOf(approx, n).select(col("qid"), col("vec_id"))

  /** The refine stage of every filter-and-refine KNN: (qid, vec_id)
    * candidates → exact-cosine top-k, (qid, vec_id, score, rn) with scores
    * bit-identical to [[bruteForceKnn]]. `queries` carries (qid, qv, qnrm)
    * and `e` is the [[normed]] corpus.
    *
    * Candidates are ≤ queries·k·oversample rows BY CONSTRUCTION (the
    * [[shortlist]] bound), but Spark can't estimate a post-aggregate frame,
    * so without the explicit broadcast it picks a sort-merge join and
    * SHUFFLES THE WHOLE CORPUS to fetch a few hundred vectors (measured:
    * shuffle exponent 2.28 across the 10×→100× probe decade, 77 MB at 100×
    * — BASELINE r11). Broadcasting the bounded side keeps the corpus scan
    * in place: shuffle exponent drops to ~0.
    *
    * SMALL-QUERY-SET CONTRACT (every *Knn op here and in
    * [[graft.operators.Quantize]]): the query side — and the bounded
    * candidate rows carrying full query vectors — is broadcast, so a broad
    * `queryPred` (≳10⁵ queries at dim 64) can exceed the broadcast/driver
    * limit and FAIL where an unhinted sort-merge plan merely ran slow.
    * These are point-lookup/retrieval ops; a corpus-sized query set is a
    * similarity JOIN and belongs with [[cosineDupPairsLsh]]/[[semDedup]]
    * instead.
    */
  private[operators] def rescore(cand: DataFrame, queries: DataFrame,
      e: DataFrame, k: Int): DataFrame =
    topkOf(broadcast(cand
        .join(broadcast(queries.select(col("qid"), col("qv"), col("qnrm"))), Seq("qid")))
      .join(e, Seq("vec_id"))
      .withColumn("score", cosine(col("qv"), col("v"), col("qnrm"), col("nrm"))), k)

  /** Exact top-k neighbours for each query vector (`queryPred` selects the
    * query rows). Output: (qid, vec_id, score, rn), rn = 1..k. The query
    * side is broadcast — the small-query-set contract of [[rescore]].
    */
  def bruteForceKnn(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = normed(emb)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // query side is small by construction — broadcast it so the big scan
    // never shuffles
    val cand = broadcast(q).join(e, col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    topkOf(cand, k)
  }

  /** Deterministic ±1 hyperplane `planeId`, PORTABLE arithmetic (round 7 —
    * was xxhash64, which no SQL engine reproduces): component j's sign is
    * bit 13 of the q24 hash family's scramble over a prime-mod mix of
    * (planeId, j). Every intermediate stays < 2⁶³, so a DuckDB oracle
    * recomputes the identical planes, buckets, and candidate sets — what
    * promotes q27/q29 from rows-only to full hash-gated oracles. The mix
    * `(pid+1)·131 + (j+1)` is injective for j < 130 (dims here are 64); the
    * SQUARING step is load-bearing — without it the scramble is linear in
    * (pid, j) and plane signs correlate across planes (measured recall@10
    * on the sf0.01 fixture: 0.56 linear vs 0.96 squared vs 0.86-0.90 for
    * the old xxhash family). m² < 9.97e17 and s·2654435761 < 2.66e18 both
    * fit a signed 64-bit lane, so the identical spelling runs in DuckDB.
    * Evaluated once on the driver so the per-row projection is a
    * constant-vector [[dot]] inside whole-stage codegen.
    */
  private[graft] def planeVec(planeId: Int, dim: Int): Seq[Double] =
    (0 until dim).map { j =>
      val m = ((planeId + 1).toLong * 131L + (j + 1).toLong) % 998244353L
      val s = (m * m) % 998244353L
      val h = (s * 2654435761L + 40503L) % 4294967296L
      if (((h >> 13) & 1L) == 1L) 1.0 else -1.0
    }

  /** Bucket id of `v` in hash table `tableId`: `planes` sign bits of
    * projections onto planes tableId*planes .. tableId*planes+planes-1.
    */
  def lshBucket(v: Column, planes: Int, dim: Int, tableId: Int = 0): Column =
    (0 until planes).map { p =>
      val plane = typedLit(planeVec(tableId * planes + p, dim)).cast("array<double>")
      when(dot(v, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** (tbl, bucket) entries for all `tables` hash tables, ready to explode —
    * the executable SPEC of [[withBucketEntries]] (SimilaritySpec pins
    * entry-for-entry equality); scale callers use the staged form.
    */
  private[graft] def allBuckets(v: Column, planes: Int, tables: Int, dim: Int): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("tbl"), lshBucket(v, planes, dim, t).as("bucket"))
    }: _*)

  /** `df` + an exploded `tb = (tbl, bucket)` column — [[allBuckets]] with
    * the tables·planes hyperplane dots staged through ONE native pass
    * (graft_pqlut with sub = dim, k = tables·planes: lut[i] = dot(v,
    * plane_i), the same sequential index-order fold as [[dot]], so every
    * sign bit — and therefore every bucket — is bit-identical to the
    * inlined spelling). The inlined form put tables·planes literal-vector
    * dot subtrees into one projection; past ~64 dots that exceeds the
    * generated-method budget and drops the whole stage out of whole-stage
    * codegen — measured 42 s vs 0.3 s over 200k vectors (r17 kernel A/B,
    * VERDICT.md). `df` must carry the vector as `v`.
    */
  private[graft] def withBucketEntries(df: DataFrame, planes: Int, tables: Int,
      dim: Int): DataFrame = {
    val flat = typedLit((0 until tables * planes).flatMap(i => planeVec(i, dim)))
      .cast("array<double>")
    df.withColumn("_plut", call_function("graft_pqlut", col("v"), flat,
        lit(dim), lit(tables * planes)))
      .withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          (0 until planes).map(p =>
            when(element_at(col("_plut"), lit(t * planes + p + 1)) >= 0,
              lit(1L << p)).otherwise(lit(0L)))
            .reduce((a, b) => a.bitwiseOR(b)).as("bucket"))
      }: _*)))
      .drop("_plut")
  }

  /** Embedding dim probed from one row (constant per corpus). Probing is a
    * driver-side job at plan-build time — callers on the scale path should
    * pass the known dim instead (the `dim` parameters below).
    */
  private def dimOf(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head().getInt(0)

  /** Corpus row count for plane auto-sizing: the caller's known value or an
    * EXACT count job. Plane count is correctness-bearing for the
    * oracle-gated path (a different `planes` changes every bucket, so the
    * whole candidate set diverges from an oracle that recomputes the
    * sketch from `count(*)`) — catalog/CBO row estimates must never feed
    * it. Scale callers avoid the count job by passing `planes` or
    * `corpusSize` explicitly.
    */
  private def corpusRows(emb: DataFrame, known: Long): Long =
    if (known > 0) known else emb.count()

  /** Smallest p ≥ 4 with 64·2^p ≥ n — ceil(log₂(n/64)) in pure integer
    * arithmetic. The FP spelling (`ceil(ln(n/64)/ln 2)`) can land either
    * side of an exact power-of-two boundary depending on the libm, which
    * would flip `planes` and desync engine and oracle.
    */
  private def autoPlanes(n: Long): Int = {
    var p = 4
    while ((64L << p) < n && p < 56) p += 1 // 64·2^56 = 2^62: no overflow
    p
  }

  /** Approximate top-k: candidates share an LSH bucket in any of `tables`
    * hash tables, dedup on bare id pairs (vectors are fetched back by id
    * AFTER the dedup so the candidate shuffle moves 16-byte rows, not
    * embeddings), exact cosine rerank. Output shape matches
    * [[bruteForceKnn]] (rn may stop short of k when the candidate set is
    * small — the recall trade-off). Recall@10 ≥ 0.6 vs brute force is
    * asserted in SimilaritySpec at the defaults.
    */
  def lshKnn(emb: DataFrame, queryPred: Column, k: Int,
             planes: Int = 4, tables: Int = 16, dim: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val d = if (dim > 0) dim else dimOf(emb)
    val e = normed(emb)
    val eb = withBucketEntries(e, planes, tables, d)
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"), col("vec_id"))
    // sketch the (few) query rows directly — bucketing is a pure function of
    // the vector, so this avoids a second full-corpus sketch pass
    val qb = withBucketEntries(e.filter(queryPred), planes, tables, d)
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"), col("vec_id").as("qid"))
    val cand = broadcast(qb).join(eb, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
    rescore(cand, e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm")), e, k)
  }

  /** A coarse quantizer's two cell columns over a [[normed]] frame. */
  private[graft] final class CoarseCells(lut: Column, cnrms: Column, cids: Column) {
    /** The row's nearest cell id. */
    def assign: Column = call_function("graft_cellargmax", lut, col("nrm"), cnrms, cids)
    /** The row's `nprobe` nearest cell ids, nearest first. */
    def probe(nprobe: Int): Column =
      call_function("graft_celltop", lut, col("nrm"), cnrms, cids, lit(nprobe))
  }

  /** The IVF coarse quantizer shared by [[ivfKnn]] and
    * [[Quantize.ivfPqKnn]]: `cells` centroids are the rows with the smallest
    * [[Corpus.portableHash]] of vec_id (TakeOrdered, collected once —
    * cells × dim doubles; the hash is injective below 2³², so the sample
    * needs no tie-break), their norms computed driver-side so the sampling
    * job pays no per-row dot product.
    *
    * Both cell columns run the native cell kernels (r17): the centroid dots
    * go through ONE graft_pqlut pass (lut[c] = dot(v, cent_c), the same
    * sequential fold as [[dot]]) and graft_cellargmax / graft_celltop
    * reproduce exactly what array_max / reverse(array_sort) over
    * struct(lut[c]/(nrm·cnrm[c]), cid[c]) selected — same mul-then-div
    * doubles, same nan-safe ordering, same cid tie-breaks (NativeExprSpec
    * pins kernel ≡ expression). The inlined literal-dot struct array broke
    * whole-stage codegen past ~64 cells and ran ~100× slower on a 200k
    * corpus (r17 kernel A/B, VERDICT.md).
    */
  private[graft] def coarseCells(emb: DataFrame, cells: Int): CoarseCells = {
    val cents = emb
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("h", Corpus.portableHash(col("vec_id")))
      .orderBy(col("h")).limit(cells)
      .select(col("vec_id"), col("v"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    new CoarseCells(
      call_function("graft_pqlut", col("v"),
        typedLit(cents.flatMap(_._2)).cast("array<double>"),
        lit(cents.head._2.size), lit(cents.length)),
      typedLit(cents.map { case (_, v) => math.sqrt(v.iterator.map(x => x * x).sum) })
        .cast("array<double>"),
      typedLit(cents.map(_._1)).cast("array<bigint>"))
  }

  /** IVF (inverted-file) approximate KNN — the coarse-quantizer scale path
    * beside [[lshKnn]]. `cells` centroids are a deterministic corpus sample
    * (the rows with the smallest [[Corpus.portableHash]] of vec_id —
    * seedable, reproducible, injective for ids < 2³², and recomputable in
    * any SQL engine, which is what lets q33 carry a full hash-gated oracle;
    * round 7 — was xxhash64); every vector is assigned to its max-cosine
    * centroid, queries probe their `nprobe` nearest cells, and candidates
    * rerank exactly.
    *
    * Scale shape: centroids are collected once (cells × dim doubles — KB)
    * and inlined as literals ([[coarseCells]]), so cell assignment is one
    * codegen'd kernel pass per row — a pure map over the scan, no shuffle,
    * no join. The only exchange is the probe-cell
    * candidate join (query side broadcast) and the final per-query top-k.
    * Recall@10 vs brute force is asserted in SimilaritySpec.
    */
  def ivfKnn(emb: DataFrame, queryPred: Column, k: Int,
             cells: Int = 64, nprobe: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = normed(emb)
    val cc = coarseCells(emb, cells)
    val assigned = e.withColumn("cell", cc.assign)
    val probes = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        cc.probe(nprobe).as("pr"))
      .withColumn("cell", explode(col("pr")))
      .drop("pr")
    topkOf(broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", cosine(col("qv"), col("v"), col("qnrm"), col("nrm"))), k)
  }

  /** Matryoshka two-stage KNN (Kusupati et al. 2022, arXiv:2205.13147 —
    * nested-representation retrieval): stage 1 ranks the corpus by cosine
    * over the first `prefixDim` components only and keeps a `shortlist`;
    * stage 2 exact-reranks the shortlist on the full vectors. With
    * MRL-trained embeddings the prefix carries most of the signal, so the
    * funnel trades a bounded recall loss for a prefixDim/dim compute cut —
    * at 100 TB the prefix column would be stored separately (prefixDim of
    * dim components = proportionally less I/O and FLOPs on the scan that
    * touches every row; the full vector is fetched for only
    * |queries|·shortlist rows). The fixture embeddings are NOT MRL-trained
    * (isotropic — the prefix carries only prefixDim/dim of the energy), so
    * the defaults here are sized for them: 32/64 prefix + 100 shortlist
    * measures recall@10 = 0.86; MRL embeddings would take 8-16 dim
    * prefixes at the same recall.
    *
    * Both stages rank by (score desc, vec_id asc) through the bounded
    * [[topkOf]] aggregate; all cosines are the shared sequential-dot
    * identity, so a SQL oracle reproduces the funnel decision-for-decision.
    */
  def matryoshkaKnn(emb: DataFrame, queryPred: Column, k: Int,
                    prefixDim: Int = 32, shortlist: Int = 100): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = normed(emb)
      .withColumn("p", slice(col("v"), 1, prefixDim))
      .withColumn("pnrm", norm(col("p")))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("p").as("qp"), col("pnrm").as("qpnrm"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val cand = Similarity.shortlist(broadcast(q.select(col("qid"), col("qp"), col("qpnrm")))
        .join(e, col("vec_id") =!= col("qid"))
        .withColumn("score", cosine(col("qp"), col("p"), col("qpnrm"), col("pnrm"))),
        shortlist)
    rescore(cand, q, e, k)
  }

  /** EXACT all pairs with cosine ≥ threshold (the q26 oracle mode).
    *
    * Triangle block partitioning: row block b = hash(vec_id) mod blocks; the
    * "x" side replicates a row to every block-pair key (b, bb≥b), the "y"
    * side to every (ba≤b, b); the join on the synthetic key is a plain
    * shuffle/hash equi-join covering each unordered pair exactly once
    * (within-block pairs dedup on id order). Replication is ~blocks/2× per
    * side; the O(n²) pair compute spreads over blocks·(blocks+1)/2 keys so
    * every executor gets work and nothing is nested-loop-broadcast.
    */
  def cosineDupPairs(emb: DataFrame, threshold: Double, blocks: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // blocks auto-sizes to the session's parallelism: block-pair keys
    // ≈ blocks²/2 must cover every core or the quadratic work piles onto a
    // few tasks; replication per side is ~blocks/2, the intrinsic price of
    // exact all-pairs (a row must meet every block). Derived from cluster
    // config, not data — no plan-build scan.
    val nb =
      if (blocks > 0) blocks
      else math.max(16, math.ceil(math.sqrt(
        2.0 * emb.sparkSession.sparkContext.defaultParallelism)).toInt)
    val e = normed(emb)
      .withColumn("b", pmod(xxhash64(col("vec_id")), lit(nb)).cast("int"))
    val x = e
      .withColumn("key", explode(transform(
        sequence(col("b"), lit(nb - 1)), bb => col("b") * nb + bb)))
      .select(col("key"), col("b").as("b_x"), col("vec_id").as("id_x"),
        col("v").as("v_x"), col("nrm").as("n_x"))
    val y = e
      .withColumn("key", explode(transform(
        sequence(lit(0), col("b")), ba => ba * nb + col("b"))))
      .select(col("key"), col("b").as("b_y"), col("vec_id").as("id_y"),
        col("v").as("v_y"), col("nrm").as("n_y"))
    x.join(y, Seq("key"))
      .filter(col("b_x") < col("b_y") || col("id_x") < col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        cosine(col("v_x"), col("v_y"), col("n_x"), col("n_y")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Approximate near-dup pairs: candidates share an LSH bucket in any of
    * `tables` hash tables, exact cosine verify ≥ threshold — the 100 TB
    * path when exact [[cosineDupPairs]] is unaffordable. Always a subset of
    * the exact result with bit-identical scores (asserted in
    * SimilaritySpec); recall per pair is 1−(1−(1−θ/π)^planes)^tables.
    *
    * `planes = 0` (the default) auto-sizes bucket count to the corpus:
    * planes = max(4, ⌈log2(n/64)⌉), targeting ~64-vector buckets, so
    * candidate volume stays ~O(n·tables·64) instead of collapsing the
    * corpus into a handful of giant buckets as n grows. Candidates travel
    * as bare id pairs; vectors are fetched back by id after the dedup.
    *
    * Pass `corpusSize`/`dim` when known: auto-sizing otherwise falls back
    * to plan statistics and, as a last resort, a count job at plan-build
    * time (and a one-row probe for the dim) — avoidable driver-side scans
    * on the path meant for the biggest corpora.
    */
  def cosineDupPairsLsh(emb: DataFrame, threshold: Double,
                        planes: Int = 0, tables: Int = 16,
                        corpusSize: Long = 0L, dim: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val d = if (dim > 0) dim else dimOf(emb)
    val e = normed(emb)
    val p =
      if (planes > 0) planes
      else autoPlanes(corpusRows(emb, corpusSize))
    val eb = withBucketEntries(e, p, tables, d)
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"), col("vec_id"))
      .repartition(col("tbl"), col("bucket")) // sketch once; self-join reuses the exchange
    val a = eb.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val b = eb.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    // no join hint: AQE reuses the single (tbl, bucket) shuffle stage for
    // both sides (measured — the sketch runs once), and its small-side
    // broadcast conversion is the right call at small scale while a big
    // corpus keeps the shuffled hash join
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("v_a"), col("v_b"), col("n_a"), col("n_b")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** SemDeDup — SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse k-means clustering bounds the pair search,
    * then a within-cluster cosine dup graph is closed under transitivity
    * and each component keeps one canonical (min-id) member. This is the
    * embedding-space analogue of [[Dedup.dupGroups]]'s MinHash pipeline —
    * the curation pass that removes *semantically* redundant documents
    * exact/near text dedup cannot see.
    *
    * Scale shape: the paper's own contract is that k grows with the corpus
    * so clusters stay O(corpus/k) bounded — within-cluster all-pairs is the
    * affordable quadratic. Here that is a plain shuffle equi-join on the
    * cluster id (both sides partial-projected to (cluster, id, v, norm)),
    * never a corpus-wide BNLJ; a pathological giant cluster is AQE
    * skew-split territory and, at the extreme, the cue to raise k.
    * Assignment is [[Kmeans.assign]]'s broadcast-centroid argmin (one
    * scan, exchange carries one row per vector); component closure is
    * [[Dedup.connectedComponents]]' log-round pointer jumping over id
    * pairs. Ties on equal distance break to the lower centroid id, ties on
    * quality don't exist (min id is unique).
    *
    * `cents` must be small (k rows of (cid, cv)). Output: (vec_id,
    * cluster, component_id, keep) — `keep` ⇔ the vector is its semantic
    * component's canonical member; singletons keep themselves. Scores are
    * the shared native [[graft.functions.DotProductD]] cosine, so the dup
    * graph is bit-reproducible in any engine with a sequential dot.
    */
  def semDedup(emb: DataFrame, cents: DataFrame, threshold: Double): DataFrame = {
    val assigned = semDedupAssign(emb, cents)
    val pairs = semDedupPairs(assigned, threshold)
    assigned.select(col("vec_id"), col("cluster"))
      .join(Dedup.dupGroups(assigned, col("vec_id"), pairs)
        .withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"))
  }

  /** [[semDedup]] stage 1: broadcast-centroid argmin assignment →
    * (vec_id, v, nrm, cluster). Exposed package-private so ScaleProbe can
    * drive the pair join in isolation (the skew-mitigation evidence).
    */
  private[graft] def semDedupAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val dist2 = (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv"))) +
      dot(col("cv"), col("cv"))
    emb
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), struct(dist2.as("d"), col("cid")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("best"), first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"),
        col("best.cid").as("cluster"))
  }

  /** [[semDedup]] stage 2: the within-cluster all-pairs cosine dup edges —
    * the quadratic whose task-size balance the AQE skew-split governs when
    * a cluster goes giant.
    */
  private[graft] def semDedupPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    val x = assigned.select(col("cluster"), col("vec_id").as("doc_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val y = assigned.select(col("cluster"), col("vec_id").as("doc_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    x.join(y, Seq("cluster"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(cosine(col("v_a"), col("v_b"), col("n_a"), col("n_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
  }
}
