package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProductD, DotProductL, HashCountVec, HashFeatScore, MinHashSig, PolyFingerprint, PqEncodeCodes, PqLut, PqScore, ShingleSet, SimHash64}

/** Spark extension entry point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) injects every `graft_*` native
  * function at session build time, so a pure-SQL user — thriftserver,
  * spark-sql, notebooks — gets the codegen'd kernels without touching the
  * Scala API. `GraftFunctions.register` stays as the imperative
  * per-session path the operators call themselves (idempotent; both routes
  * bind the same builders).
  *
  * It also sizes Spark's generated-class cache. Spark keeps the classes
  * Janino compiles (whole-stage, projections, state encoders) in one
  * JVM-wide LRU cache whose size, `spark.sql.codegen.cache.maxEntries`
  * (default 100), is read once, at the first compile. One step of the
  * pipeline (four ingest jobs, forecast, PnL + exposure, then a 7-panel
  * refresh) uses about 99 distinct classes and a whole run about 150, so at
  * 100 the LRU evicts each class before its next use and every step
  * recompiles about 135 of them. `apply` therefore sets that system property
  * to [[GraftExtensions.CodegenCacheEntries]] when it is absent: a session
  * builder's `withExtensions(...)` runs `apply` before `getOrCreate()`
  * copies the `spark.*` system properties into the SparkConf, so every
  * session built with the extension gets it. The setting is JVM-wide and
  * fixed at the first compile, and any explicit one wins: a `-D` flag,
  * spark-submit's `--conf`, a builder `.config`. Under
  * `spark.sql.extensions` the SparkContext exists before `apply` runs, so
  * such a deployment sets the conf itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    System.getProperties.putIfAbsent(GraftExtensions.CodegenCacheKey,
      GraftExtensions.CodegenCacheEntries.toString)
    GraftExtensions.injected.foreach { case (name, usage, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), builder))
    }
    GraftExtensions.injectedTableFns.foreach { case (name, usage, builder) =>
      ext.injectTableFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), builder))
    }
    // latest-N-per-key windows → bounded top-k aggregate (plans.TopKRewrite)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // INSERT INTO a graftlog-backed relation: replan the built-in
    // file-relation insert (which would write parquet invisible to the
    // manifest) as the manifest-committing command — runs after the
    // session's own post-hoc rules, so the command to intercept exists
    ext.injectPostHocResolutionRule(_ => graft.sources.GraftLogInsertRewrite)
    // a format("graftlog") snapshot with deletion vectors or renamed
    // columns carries TableLog's read step on its index; this rule expands
    // it into that read at optimization (see the rule's scaladoc for why
    // optimization-time, not resolution-time)
    ext.injectOptimizerRule(_ => graft.sources.GraftLogReadRewrite)
  }
}

object GraftExtensions {
  private[graft] val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated-class cache entries: room for one pipeline step's ~99
    * classes and a whole run's ~150, with headroom for the query gates.
    */
  private[graft] val CodegenCacheEntries = 1000

  /** (name, usage, builder) for every native function — the single source
    * shared by the extension injector; keep in sync with
    * [[graft.functions.GraftFunctions.register]].
    */
  private[graft] val injected: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "dot product of two array<double>",
      (es: Seq[Expression]) => DotProductD(es(0), es(1))),
    ("graft_doti", "exact integer dot product of two array<bigint>",
      (es: Seq[Expression]) => DotProductL(es(0), es(1))),
    ("graft_pqencode", "graft_pqencode(vec, flatBooks, sub, k) - PQ codes (argmin L2 per subspace)",
      (es: Seq[Expression]) => PqEncodeCodes(es(0), es(1), es(2), es(3))),
    ("graft_pqlut", "graft_pqlut(vec, flatBooks, sub, k) - PQ asymmetric-distance lookup table",
      (es: Seq[Expression]) => PqLut(es(0), es(1), es(2), es(3))),
    ("graft_pqscore", "graft_pqscore(codes, lut, k) - PQ asymmetric-distance score sum(lut[s*k+codes[s]])",
      (es: Seq[Expression]) => PqScore(es(0), es(1), es(2))),
    ("graft_cellargmax", "graft_cellargmax(lut, nrm, cnrms, cids) - IVF nearest-cell id: argmax of lut[c]/(nrm*cnrms[c]) with max-cid tie-break",
      (es: Seq[Expression]) => graft.functions.CellArgMax(es(0), es(1), es(2), es(3))),
    ("graft_celltop", "graft_celltop(lut, nrm, cnrms, cids, n) - top-n IVF cell ids by lut[c]/(nrm*cnrms[c]), score desc then cid desc",
      (es: Seq[Expression]) => graft.functions.CellTopIds(es(0), es(1), es(2), es(3), es(4))),
    ("graft_minhash", "graft_minhash(shingles, k) - k-lane minhash signature",
      (es: Seq[Expression]) => MinHashSig(es(0), es(1))),
    ("graft_bands", "graft_bands(sig, numBands, r) - LSH band keys (xxhash64 of each r-lane band, band id as second hash input)",
      (es: Seq[Expression]) => graft.functions.BandKeys(es(0), es(1), es(2))),
    ("graft_stage1", "graft_stage1(text) - curation stage-1 counters [n_tokens, n_stop, en_hits, es_hits, de_hits] in one pass",
      (es: Seq[Expression]) => graft.functions.Stage1Counts(es(0))),
    ("graft_simhash", "64-bit simhash of array<string> tokens",
      (es: Seq[Expression]) => SimHash64(es(0))),
    ("graft_fp", "graft_fp(text, maxChars) - polynomial rolling hash",
      (es: Seq[Expression]) => PolyFingerprint(es(0), es(1))),
    ("graft_shingles", "graft_shingles(text, n) - distinct space-joined n-token shingles",
      (es: Seq[Expression]) => ShingleSet(es(0), es(1))),
    ("graft_topk", "graft_topk(expr, k) - k largest values per group, sorted descending",
      (es: Seq[Expression]) => graft.functions.TopKOrdered(es(0), es(1))),
    ("graft_bottomk", "graft_bottomk(expr, k) - k smallest values per group, sorted ascending",
      (es: Seq[Expression]) => graft.functions.TopKOrdered(es(0), es(1), asc = true)),
    ("graft_heavyhitters", "graft_heavyhitters(item, k) - Misra-Gries frequent items sketch",
      (es: Seq[Expression]) => graft.functions.MisraGries(es(0), es(1))),
    ("graft_bloom", "graft_bloom(key, nBits, numHashes) - mergeable Bloom filter over bigint keys",
      (es: Seq[Expression]) => graft.functions.BloomAgg(es(0), es(1), es(2))),
    ("graft_bloom_contains", "graft_bloom_contains(sketch, key) - Bloom membership probe",
      (es: Seq[Expression]) => graft.functions.BloomContains(es(0), es(1))),
    ("graft_cms", "graft_cms(key, depth, width) - count-min sketch over bigint keys",
      (es: Seq[Expression]) => graft.functions.CmsAgg(es(0), es(1), es(2))),
    ("graft_cms_est", "graft_cms_est(sketch, key) - count-min point-frequency estimate",
      (es: Seq[Expression]) => graft.functions.CmsEstimate(es(0), es(1))),
    ("graft_hashscore", "graft_hashscore(tokens, weights) - hashing-trick linear score sum(weights[h(tok) % dim])",
      (es: Seq[Expression]) => HashFeatScore(es(0), es(1))),
    ("graft_hashvec", "graft_hashvec(tokens, dim) - hashing-trick bag-of-words integer count vector",
      (es: Seq[Expression]) => HashCountVec(es(0), es(1))),
    ("graft_dv_live", "graft_dv_live(file, ri, files, offsets, runs) - deletion-vector run-set miss test",
      (es: Seq[Expression]) => graft.functions.DvLive(es(0), es(1), es(2), es(3), es(4))))

  /** TABLE-VALUED functions — the pure-SQL surface of the commit log: time
    * travel and the maintenance/audit views were Scala-only before round
    * 15; a spark-sql/thriftserver user could not reach them. Each builder
    * expands at ANALYSIS time into the read's logical plan (already
    * resolved — the TVF is a macro over [[graft.sources.TableLog]], not a
    * new operator), so everything downstream — partition pruning, stat
    * skipping, codegen — is the ordinary relation path.
    *
    *  - `graft_log('<root>'[, version])` — the snapshot at `version`
    *    (default head): SQL time travel.
    *  - `graft_log_history('<root>')` — the DESCRIBE HISTORY audit frame.
    */
  private[graft] val injectedTableFns: Seq[(String, String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    ("graft_log",
      "graft_log(root[, version]) - logged-table snapshot (default: head)",
      (es: Seq[Expression]) => {
        require(es.size == 1 || es.size == 2,
          "graft_log takes (root) or (root, version)")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.sources.TableLog.read(spark, tvfString(es.head, "root"),
            es.lift(1).map(tvfLong(_, "version")))
          .queryExecution.analyzed
      }),
    ("graft_log_history",
      "graft_log_history(root) - one audit row per committed version",
      (es: Seq[Expression]) => {
        require(es.size == 1, "graft_log_history takes (root)")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.sources.TableLog.history(spark, tvfString(es.head, "root"))
          .queryExecution.analyzed
      }),
    ("graft_log_cdf",
      "graft_log_cdf(root, vFrom, vTo, keyCols) - full-row change feed " +
        "over (vFrom, vTo]: table columns + _change_type, updates emit " +
        "both images; keyCols is a comma-separated row-identity list",
      (es: Seq[Expression]) => {
        require(es.size == 4,
          "graft_log_cdf takes (root, vFrom, vTo, keyCols)")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.sources.TableLog.readChangeRows(spark,
            tvfString(es(0), "root"), tvfLong(es(1), "vFrom"),
            tvfLong(es(2), "vTo"),
            tvfString(es(3), "keyCols").split(',').map(_.trim)
              .filter(_.nonEmpty).toSeq)
          .queryExecution.analyzed
      }),

    // -- MAINTENANCE DML as table functions (round 16) -------------------
    // The Scala-only mutation ops, reachable from pure SQL. Each RUNS the
    // mutation when the enclosing query is ANALYZED (once per spark.sql
    // call — the pragmatic command surface available without a catalog
    // plugin; note EXPLAIN over such a query also executes it) and
    // returns a one-row frame with the resulting version. All arguments
    // must be literals.
    ("graft_log_delete",
      "graft_log_delete(root, predicateSql) - DELETE FROM the logged " +
        "table (partition/stat-triaged rewrite); returns (version)",
      (es: Seq[Expression]) => {
        require(es.size == 2, "graft_log_delete takes (root, predicateSql)")
        val spark = org.apache.spark.sql.SparkSession.active
        versionRow(graft.sources.TableLog.delete(spark,
          tvfString(es(0), "root"),
          org.apache.spark.sql.functions.expr(tvfString(es(1), "predicate"))))
      }),
    ("graft_log_delete_dv",
      "graft_log_delete_dv(root, predicateSql) - DELETE FROM via deletion " +
        "vectors (zero rewrite); returns (version)",
      (es: Seq[Expression]) => {
        require(es.size == 2,
          "graft_log_delete_dv takes (root, predicateSql)")
        val spark = org.apache.spark.sql.SparkSession.active
        versionRow(graft.sources.TableLog.deleteVectors(spark,
          tvfString(es(0), "root"),
          org.apache.spark.sql.functions.expr(tvfString(es(1), "predicate"))))
      }),
    ("graft_log_restore",
      "graft_log_restore(root, version) - RESTORE the table to an old " +
        "version as a new commit; returns (version)",
      (es: Seq[Expression]) => {
        require(es.size == 2, "graft_log_restore takes (root, version)")
        val spark = org.apache.spark.sql.SparkSession.active
        versionRow(graft.sources.TableLog.restore(spark,
          tvfString(es(0), "root"), tvfLong(es(1), "version")))
      }),
    ("graft_log_compact",
      "graft_log_compact(root, targetBytes) - compact sub-target files " +
        "into one atomic commit; returns (version)",
      (es: Seq[Expression]) => {
        require(es.size == 2, "graft_log_compact takes (root, targetBytes)")
        val spark = org.apache.spark.sql.SparkSession.active
        versionRow(graft.sources.TableLog.compact(spark,
          tvfString(es(0), "root"), tvfLong(es(1), "targetBytes")))
      }),
    ("graft_log_vacuum",
      "graft_log_vacuum(root, keepVersions) - drop manifests/files beyond " +
        "the horizon (orphans by age); returns the surviving head (version)",
      (es: Seq[Expression]) => {
        require(es.size == 2, "graft_log_vacuum takes (root, keepVersions)")
        val spark = org.apache.spark.sql.SparkSession.active
        val root = tvfString(es(0), "root")
        graft.sources.TableLog.vacuum(spark, root,
          tvfLong(es(1), "keepVersions").toInt)
        versionRow(graft.sources.TableLog.headVersion(spark, root)
          .getOrElse(0L))
      }))

  /** One-row (version BIGINT) result plan for the maintenance TVFs. */
  private def versionRow(v: Long)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "version", org.apache.spark.sql.types.LongType, nullable = false)()),
      Seq(org.apache.spark.sql.catalyst.InternalRow(v)))

  private def tvfString(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a literal string")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }
  }

  private def tvfLong(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a literal integer")
    e.eval() match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }
}
