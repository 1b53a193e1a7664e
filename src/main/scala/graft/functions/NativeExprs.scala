package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot inner loops of the similarity /
  * dedup operators.
  *
  * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`) are
  * CodegenFallback — every lambda step is an interpreted expression tree
  * walk. For sketches evaluated once per document that is tolerable; for a
  * dot product evaluated per candidate *pair* it dominates the query (bench:
  * brute-force cosine over 2M pairs spent ~97% of its time inside the
  * interpreted fold). These expressions compute the same values (bit-for-bit:
  * same IEEE operation order, same xxhash64 family as
  * `org.apache.spark.sql.functions.xxhash64`) in tight JVM loops;
  * [[DotProductD]] additionally generates Java through `doGenCode` so it
  * stays inside whole-stage codegen.
  */
object GraftFunctions {

  /** Idempotently register graft_* functions in the session's registry.
    * Same builder list as the [[graft.GraftExtensions]] session-extension
    * path — this is the imperative route the operators call themselves.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.injected.foreach { case (name, usage, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) {
        reg.registerFunction(id, new ExpressionInfo("graft", name, usage), builder)
      }
    }
    val treg = spark.sessionState.tableFunctionRegistry
    graft.GraftExtensions.injectedTableFns.foreach { case (name, usage, builder) =>
      val id = FunctionIdentifier(name)
      if (!treg.functionExists(id)) {
        treg.registerFunction(id, new ExpressionInfo("graft", name, usage), builder)
      }
    }
  }

  private[graft] val XXSEED = 42L

  /** xxhash64(s) as the builtin computes it (seed 42). */
  private[functions] def hashStr(s: UTF8String): Long =
    XxHash64Function.hash(s, StringType, XXSEED)

  /** xxhash64(s, i): the builtin folds columns left-to-right. */
  private[functions] def hashStrLane(inner: Long, lane: Long): Long =
    XxHash64Function.hash(lane, LongType, inner)

  /** PORTABLE 64-bit token hash (the simhash family): two prime-mod
    * polynomial rolls over the codepoints ((acc*31+cp) % 1e9+7 and
    * (acc*131+cp) % 998244353 — the q21 fingerprint family), each scrambled
    * to 32 bits by one multiply-add mod 2^32, packed low|high. Every
    * intermediate stays < 2^63 (fp < 2^30, fp*2654435761 < 2^62), so the
    * IDENTICAL spelling runs exactly in any 64-bit engine — DuckDB included
    * — which is what lets q24's pair set be hash-gated against the oracle
    * (xxhash64 is not reproducible in SQL engines; this family is).
    */
  private[functions] def portableTokenHash(s: UTF8String): Long = {
    val str = s.toString
    var fp1 = 0L
    var fp2 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      fp1 = (fp1 * 31 + cp) % 1000000007L
      fp2 = (fp2 * 131 + cp) % 998244353L
      i += Character.charCount(cp)
    }
    val h1 = (fp1 * 2654435761L + 40503L) % 4294967296L
    val h2 = (fp2 * 2246822519L + 3266489917L) % 4294967296L
    h1 | (h2 << 32)
  }
}

/** Exact dot product of two array<double>; null on null input or length
  * mismatch (matching `aggregate(zip_with(a, b, *), 0d, +)` which nulls out
  * via zip_with padding). Sequential adds in index order — bit-identical to
  * the HOF fold and DuckDB's list_dot_product.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // either containsNull flavour — element reads are null-unsafe, which is
      // fine for every producer here (transform-cast of non-null floats)
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure("graft_dot expects two array<double>")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Integer dot product of two array<long> with a long accumulator — the
  * quantized-similarity hot loop (Quantize.quantizedKnn scores candidate
  * pairs as scale_a·scale_b·Σ codes). Integer adds are associative, so this
  * is order-independent AND exact (int8 codes bound each term by 127² and a
  * 100k-dim vector by ~2⁴¹ — no overflow); codegen'd like [[DotProductD]]
  * because it runs per candidate pair, not per document.
  */
case class DotProductL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure("graft_doti expects two array<bigint>")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0L
      var i = 0
      while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getLong($i) * $y.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** k-lane MinHash signature over an array<string> shingle set. Lane i of
  * shingle s = xxhash64(s, i) — identical to the HOF construction
  * `transform(sequence(0, k-1), i -> array_min(transform(sh, s -> xxhash64(s, i))))`
  * but hashing each shingle's bytes once and folding the lane id with the
  * cheap long round.
  */
case class MinHashSig(child: Expression, kExpr: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = kExpr
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
        child.dataType.asInstanceOf[ArrayType].elementType == StringType &&
        kExpr.dataType == IntegerType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure("graft_minhash expects (array<string>, int)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def foldable: Boolean = child.foldable

  override def nullSafeEval(a: Any, kAny: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val k = kAny.asInstanceOf[Int]
    val mins = Array.fill(k)(Long.MaxValue)
    var s = 0
    val n = arr.numElements()
    if (n == 0) return null // array_min of empty is null -> lane null; keep whole sig null
    while (s < n) {
      val inner = GraftFunctions.hashStr(arr.getUTF8String(s))
      var i = 0
      while (i < k) {
        val h = GraftFunctions.hashStrLane(inner, i.toLong)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, kExpr = r)
}

/** The curation funnel's stage-1 counters in ONE pass over the text —
  * native twin of the five separate `size(filter(split(...), lambda))` HOF
  * chains in [[graft.operators.Pipeline.stageOneFlags]] (each chain is an
  * interpreted split + per-token lambda walk; five of them re-split every
  * document five times, twice more over `lower(text)`). Output:
  * array<bigint> [n_tokens, n_stop, en_hits, es_hits, de_hits] with the
  * EXACT semantics of the HOF spelling (asserted in NativeExprSpec):
  *   - tokens = split(text, ' ') (single-space, trailing empties moot)
  *   - n_tokens = count of non-empty tokens
  *   - n_stop   = tokens ∈ {the,a,of,and,to,in,is} (raw, case-sensitive)
  *   - en/es/de = tokens of split(lower(text), ' ') in the respective
  *     stopword sets (whole-text lowercase first, as the HOF does)
  */
case class Stage1Counts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_stage1 expects (string)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    import Stage1Counts._
    val raw = a.asInstanceOf[UTF8String].toString
    var nTokens = 0L
    var nStop = 0L
    for (tok <- raw.split(' ')) {
      if (tok.nonEmpty) {
        nTokens += 1
        if (STOP(tok)) nStop += 1
      }
    }
    // lower-case the WHOLE text first — identical to split(lower(text), ' ')
    val low = a.asInstanceOf[UTF8String].toLowerCase.toString
    var en = 0L; var es = 0L; var de = 0L
    for (tok <- low.split(' ')) {
      if (tok.nonEmpty) {
        if (EN(tok)) en += 1
        if (ES(tok)) es += 1
        if (DE(tok)) de += 1
      }
    }
    new GenericArrayData(Array(nTokens, nStop, en, es, de))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Stage1Counts {
  private val STOP = Set("the", "a", "of", "and", "to", "in", "is")
  private val EN = Set("the", "and", "of", "is", "to")
  private val ES = Set("el", "la", "de", "que", "y", "los")
  private val DE = Set("der", "die", "das", "und", "ist")
}

/** LSH band keys over a minhash signature — the one-pass native twin of the
  * HOF spelling `transform(sequence(0, b-1), band -> xxhash64(slice(sig,
  * band*r+1, r), band))` ([[graft.functions.Text.bandsHof]], asserted
  * element-for-element in NativeExprSpec). The HOF form re-evaluates the
  * `sig` argument expression once PER BAND inside the interpreted lambda —
  * with `sig` an inlined `graft_minhash(graft_shingles(...))` chain (the
  * streaming band ops, the funnel gates) that multiplied the whole sketch
  * pipeline ×numBands: measured 0.9 s (minhash128 alone) → 28 s
  * (+bands64) over 5k docs at sf0.1. This kernel evaluates `sig` once and
  * reproduces the exact xxhash64 fold of the HOF spelling, including its
  * null semantics: a NULL sig contributes nothing to the hash (the builtin
  * hashes null children as identity), so every band key degenerates to
  * xxhash64(band) — all null-sig docs share the same b buckets, which the
  * downstream exact verify then kills. Output is therefore NEVER null,
  * matching `transform` over a literal sequence.
  */
case class BandKeys(sig: Expression, bExpr: Expression, rExpr: Expression)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = sig
  override def second: Expression = bExpr
  override def third: Expression = rExpr
  // b/r must be FOLDABLE, NON-NULL and >= 1 (r17, the r16 ADVICE item):
  // the declared nullable = false is only honest when eval's null-guard on
  // b/r is unreachable, and the HOF spec diverges for b <= 0 (sequence(0,
  // b-1) descends, so bandsHof(sig, 0, r) yields keys for bands [0, -1]
  // where the kernel yields an empty array) — rejecting those at analysis
  // keeps the SQL surface inside the spec-pinned domain. Every call site
  // passes literal geometry, so no plan changes.
  override def checkInputDataTypes(): TypeCheckResult =
    if (!(sig.dataType.isInstanceOf[ArrayType] &&
        sig.dataType.asInstanceOf[ArrayType].elementType == LongType &&
        bExpr.dataType == IntegerType && rExpr.dataType == IntegerType)) {
      TypeCheckResult.TypeCheckFailure("graft_bands expects (array<bigint>, int, int)")
    } else if (!bExpr.foldable || !rExpr.foldable) {
      TypeCheckResult.TypeCheckFailure(
        "graft_bands needs literal (foldable) numBands/rowsPerBand")
    } else {
      val b = bExpr.eval()
      val r = rExpr.eval()
      if (b == null || r == null || b.asInstanceOf[Int] < 1 ||
          r.asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure(
          "graft_bands needs numBands >= 1 and rowsPerBand >= 1")
      else TypeCheckResult.TypeCheckSuccess
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // honest: a null/degenerate b or r can no longer reach eval (rejected at
  // analysis above), and a null sig still yields the xxhash64(band) keys
  override def nullable: Boolean = false

  // custom eval (not nullSafeEval): a null sig must yield the
  // xxhash64(band)-only keys the HOF produces, not a null array
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bAny = bExpr.eval(input)
    val rAny = rExpr.eval(input)
    if (bAny == null || rAny == null) return null
    val b = bAny.asInstanceOf[Int]
    val r = rAny.asInstanceOf[Int]
    val sigAny = sig.eval(input)
    val arr = if (sigAny == null) null else sigAny.asInstanceOf[ArrayData]
    val n = if (arr == null) 0 else arr.numElements()
    val out = new Array[Long](math.max(b, 0))
    var band = 0
    while (band < b) {
      var h = GraftFunctions.XXSEED
      var j = band * r
      val end = math.min(n, band * r + r) // slice past the end = shorter slice
      while (j < end) {
        h = XxHash64Function.hash(arr.getLong(j), LongType, h)
        j += 1
      }
      out(band) = XxHash64Function.hash(band, IntegerType, h)
      band += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(sig = f, bExpr = s, rExpr = t)
}

/** Product-quantization kernels. Both take the codebook as ONE flat
  * array<double> literal laid out [(s·k + c)·sub + j] (s = subspace,
  * c = centroid, j = component): the expression-tree alternative — m·k
  * inlined literal-vector dot nodes — serialized an ~11 MiB task binary
  * and dominated q86's wall time; one literal + a tight loop is the same
  * arithmetic at a 128 KB plan cost.
  *
  * [[PqEncodeCodes]]: codes[s] = argmin_c Σ_j (x[s·sub+j] − book[s,c,j])²
  * (lowest index wins ties — matches the lexicographic struct-min of the
  * expression form). [[PqLut]]: lut[s·k + c] = Σ_j x[s·sub+j]·book[s,c,j],
  * the per-query asymmetric-distance table.
  */
abstract class PqKernel extends Expression with CodegenFallback {
  def vec: Expression
  def books: Expression
  def subExpr: Expression
  def kExpr: Expression
  override def children: Seq[Expression] = Seq(vec, books, subExpr, kExpr)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, books.dataType, subExpr.dataType, kExpr.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _),
            IntegerType, IntegerType) =>
        // the codebook (and layout params) must be literal: flatBooks
        // decodes it once per task via eval(null) — a non-foldable column
        // would crash with an unbound attribute deep in a job, so fail at
        // analysis with a usable message instead (same contract as
        // BloomContains/CmsEstimate sketch args)
        if (!books.foldable) TypeCheckResult.TypeCheckFailure(
          "pq kernel codebook (flatBooks) must be a literal/foldable array<double>")
        else if (!subExpr.foldable || !kExpr.foldable) TypeCheckResult.TypeCheckFailure(
          "pq kernel sub and k must be literal ints")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "pq kernel expects (array<double>, array<double>, int, int)")
    }
  // codebook literal decoded once per task, not per row
  @transient protected lazy val flatBooks: Array[Double] =
    books.eval(null).asInstanceOf[ArrayData].toDoubleArray()

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData].toDoubleArray()
    val sub = subExpr.eval(input).asInstanceOf[Int]
    val k = kExpr.eval(input).asInstanceOf[Int]
    val m = flatBooks.length / (k * sub)
    if (x.length != m * sub) return null
    compute(x, sub, k, m)
  }
  protected def compute(x: Array[Double], sub: Int, k: Int, m: Int): Any
}

case class PqEncodeCodes(vec: Expression, books: Expression,
    subExpr: Expression, kExpr: Expression) extends PqKernel {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def compute(x: Array[Double], sub: Int, k: Int, m: Int): Any = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0
        var j = 0
        val base = (s * k + c) * sub
        while (j < sub) {
          val diff = x(s * sub + j) - flatBooks(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(vec = cs(0), books = cs(1), subExpr = cs(2), kExpr = cs(3))
}

case class PqLut(vec: Expression, books: Expression,
    subExpr: Expression, kExpr: Expression) extends PqKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def compute(x: Array[Double], sub: Int, k: Int, m: Int): Any = {
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        var d = 0.0
        var j = 0
        val base = (s * k + c) * sub
        while (j < sub) { d += x(s * sub + j) * flatBooks(base + j); j += 1 }
        lut(s * k + c) = d
        c += 1
      }
      s += 1
    }
    new GenericArrayData(lut)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(vec = cs(0), books = cs(1), subExpr = cs(2), kExpr = cs(3))
}

/** Asymmetric-distance PQ score: Σ_s lut[s·k + codes[s]] — the per-pair
  * LUT fold of [[graft.operators.Quantize.pqKnn]] as one codegen'd loop.
  * Unlike the PqKernel pair, BOTH inputs are per-row columns (codes from
  * the corpus scan, lut from the broadcast-joined query row), so this is a
  * plain ternary expression that stays inside whole-stage codegen — it runs
  * per candidate PAIR, where the interpreted
  * `aggregate(zip_with(codes, sequence, ...), element_at(lut, ...))` chain
  * was the last interpreted inner loop on the ANN hot paths. Sequential
  * adds in subspace order — bit-identical to the HOF fold.
  */
case class PqScore(codes: Expression, lut: Expression, kExpr: Expression)
    extends TernaryExpression {

  override def first: Expression = codes
  override def second: Expression = lut
  override def third: Expression = kExpr
  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, lut.dataType, kExpr.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_pqscore expects (array<int>, array<double>, int)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(cAny: Any, lAny: Any, kAny: Any): Any = {
    val c = cAny.asInstanceOf[ArrayData]
    val l = lAny.asInstanceOf[ArrayData]
    val k = kAny.asInstanceOf[Int]
    var acc = 0.0
    var s = 0
    val m = c.numElements()
    while (s < m) { acc += l.getDouble(s * k + c.getInt(s)); s += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l, k) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = $c.numElements();
         |double $acc = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  $acc += $l.getDouble($s * $k + $c.getInt($s));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, sE: Expression, t: Expression): Expression =
    copy(codes = f, lut = sE, kExpr = t)
}

/** IVF cell-selection kernels over a centroid-dot LUT — the argmax / top-n
  * of `struct(lut[c] / (nrm · cnrm[c]), cid[c])` that the ivfKnn/ivfPqKnn
  * expression spelling built as a `cells`-element struct array for
  * `array_max` / `slice(reverse(array_sort(...)))`. At 64 cells that
  * projection generated borderline-huge methods — the stage fell out of
  * whole-stage codegen (or HotSpot refused the method) and ran ~100×
  * slower than its arithmetic over a 200k-vector corpus (r17 kernel A/B,
  * VERDICT.md); staging the dots through graft_pqlut recovered the corpus map
  * but left a measured q97 regression from the surviving 64-struct
  * consumers. These kernels keep the EXACT semantics of the expression
  * form on non-null inputs: score = lut[c] / (nrm · cnrm[c]) (same
  * mul-then-div doubles), Spark's nan-safe double ordering (NaN greatest,
  * -0.0 = 0.0), ties broken by cid exactly as the struct comparison did —
  * argmax keeps the LARGEST cid on a score tie; top-n orders score desc
  * then cid desc (the reverse of ascending (score, cid)). NativeExprSpec
  * pins kernel ≡ expression over random and tied scores. Two documented
  * edges outside the operators' input domain: a null lut or nrm returns
  * null (reachable only for null/ragged vectors, which the fixtures and
  * operators exclude), and a ZERO divisor (zero-norm vector) yields plain
  * double ±Inf/NaN where the ANSI-mode expression form would THROW
  * DIVIDE_BY_ZERO — i.e. the kernels only diverge where the spelling they
  * replace errors out.
  */
abstract class CellKernel extends Expression with CodegenFallback {
  def lut: Expression
  def nrm: Expression
  def cnrms: Expression
  def cids: Expression
  override def nullable: Boolean = true
  @transient protected lazy val cnrmArr: Array[Double] =
    cnrms.eval(null).asInstanceOf[ArrayData].toDoubleArray()
  @transient protected lazy val cidArr: Array[Long] =
    cids.eval(null).asInstanceOf[ArrayData].toLongArray()
  protected def argsOk: TypeCheckResult =
    (lut.dataType, nrm.dataType, cnrms.dataType, cids.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType, ArrayType(DoubleType, _),
          ArrayType(LongType, _)) =>
        if (!cnrms.foldable || !cids.foldable)
          TypeCheckResult.TypeCheckFailure(
            "cell kernel cnrms/cids must be literal arrays")
        else if (cnrms.eval() == null || cids.eval() == null)
          TypeCheckResult.TypeCheckFailure(
            "cell kernel cnrms/cids must not be null")
        else if (cnrmArr.length != cidArr.length)
          TypeCheckResult.TypeCheckFailure(
            "cell kernel cnrms and cids must have equal length")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "cell kernel expects (array<double>, double, array<double>, array<bigint>)")
    }
  /** Spark's nan-safe double compare: NaN greatest and equal to NaN,
    * -0.0 = 0.0 — the ordering the struct comparison used.
    */
  protected final def cmpD(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || (x == y)) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1 else -1
  }
}

case class CellArgMax(lut: Expression, nrm: Expression, cnrms: Expression,
    cids: Expression) extends CellKernel {
  override def children: Seq[Expression] = Seq(lut, nrm, cnrms, cids)
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = argsOk
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = lut.eval(input)
    val nv = nrm.eval(input)
    if (l == null || nv == null) return null
    val la = l.asInstanceOf[ArrayData]
    val n = math.min(la.numElements(), cnrmArr.length)
    if (n == 0) return null
    val nd = nv.asInstanceOf[Double]
    var bestS = la.getDouble(0) / (nd * cnrmArr(0))
    var bestC = cidArr(0)
    var c = 1
    while (c < n) {
      val s = la.getDouble(c) / (nd * cnrmArr(c))
      val k = cmpD(s, bestS)
      if (k > 0 || (k == 0 && cidArr(c) > bestC)) { bestS = s; bestC = cidArr(c) }
      c += 1
    }
    bestC
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(lut = cs(0), nrm = cs(1), cnrms = cs(2), cids = cs(3))
}

case class CellTopIds(lut: Expression, nrm: Expression, cnrms: Expression,
    cids: Expression, nExpr: Expression) extends CellKernel {
  override def children: Seq[Expression] = Seq(lut, nrm, cnrms, cids, nExpr)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = argsOk
    if (base != TypeCheckResult.TypeCheckSuccess) base
    else if (nExpr.dataType != IntegerType || !nExpr.foldable)
      TypeCheckResult.TypeCheckFailure("cell kernel n must be a literal int")
    else {
      // a null n would unbox to 0 and silently return no cells
      val n = nExpr.eval()
      if (n == null || n.asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure("cell kernel n must be >= 1")
      else TypeCheckResult.TypeCheckSuccess
    }
  }
  @transient private lazy val nVal: Int = nExpr.eval(null).asInstanceOf[Int]
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = lut.eval(input)
    val nv = nrm.eval(input)
    if (l == null || nv == null) return null
    val la = l.asInstanceOf[ArrayData]
    val k = math.min(la.numElements(), cnrmArr.length)
    val nd = nv.asInstanceOf[Double]
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) { scores(c) = la.getDouble(c) / (nd * cnrmArr(c)); c += 1 }
    val order = new Array[Integer](k)
    c = 0
    while (c < k) { order(c) = c; c += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      // descending (score, cid) — reverse(array_sort(...))'s order
      override def compare(a: Integer, b: Integer): Int = {
        val s = cmpD(scores(b), scores(a))
        if (s != 0) s else java.lang.Long.compare(cidArr(b), cidArr(a))
      }
    })
    val n = math.min(nVal, k)
    val out = new Array[Long](n)
    c = 0
    while (c < n) { out(c) = cidArr(order(c)); c += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(lut = cs(0), nrm = cs(1), cnrms = cs(2), cids = cs(3), nExpr = cs(4))
}

/** 64-bit SimHash over array<string> tokens; bit j = sign of
  * Σ_tokens (bit j of portableTokenHash(token) ? +1 : -1). Equals
  * [[graft.functions.Text.simhash]] (asserted in NativeExprSpec), and the
  * q24 DuckDB oracle recomputes the identical sketch — the portable hash
  * family is the whole point (see [[GraftFunctions.portableTokenHash]]).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[ArrayType] &&
        child.dataType.asInstanceOf[ArrayType].elementType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure("graft_simhash expects array<string>")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      val h = GraftFunctions.portableTokenHash(arr.getUTF8String(t))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** Distinct n-token shingles of a document, space-joined, in first-occurrence
  * order — one pass over the text instead of the interpreted
  * `array_distinct(transform(sequence(...), i -> array_join(slice(...))))`
  * HOF chain, which at ~2.6 ms/doc dominated every shingle-based dedup query
  * (bench: q25 explode stage 13 s → sub-second at sf0.1). Matches
  * [[graft.functions.Text.shingles]]([[graft.functions.Text.tokens]](text), n)
  * element-for-element (asserted in NativeExprSpec): tokens are the
  * non-empty single-space splits; fewer than n tokens → empty array; null
  * text → null.
  */
case class ShingleSet(child: Expression, nExpr: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = nExpr
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && nExpr.dataType == IntegerType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure("graft_shingles expects (string, int)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, nAny: Any): Any = {
    val n = nAny.asInstanceOf[Int]
    val toks = a.asInstanceOf[UTF8String].toString.split(' ').filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    val last = toks.length - n
    val sb = new java.lang.StringBuilder()
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, nExpr = r)
}

/** Polynomial rolling hash ((acc * 31 + codepoint) mod 1e9+7) over the first
  * `maxChars` characters — the document fingerprint of q21/q28, as one tight
  * loop instead of a per-char `substr` HOF chain. Matches
  * `aggregate(transform(sequence(1, length(t)), i -> ascii(substr(t, i, 1))), 0L, ...)`
  * for ASCII and general codepoints alike (ascii() returns the first
  * codepoint of the substring).
  */
case class PolyFingerprint(child: Expression, maxCharsExpr: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = maxCharsExpr
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && maxCharsExpr.dataType == IntegerType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure("graft_fp expects (string, int)")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, mAny: Any): Any = {
    val s = a.asInstanceOf[UTF8String].toString
    val max = mAny.asInstanceOf[Int]
    var acc = 0L
    var i = 0
    var seen = 0
    val n = s.length
    while (i < n && (max <= 0 || seen < max)) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
      seen += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, maxCharsExpr = r)
}

/** Hashing-trick linear scorer: Σ_tokens weights[h1(token) mod dim] folded
  * in token order — the fastText-style model-based quality filter's scoring
  * pass, with the feature map as pure arithmetic (no vocabulary join at any
  * corpus size; dim = weights.length is the only model state). h1 is the
  * low 32 bits of [[GraftFunctions.portableTokenHash]] (the q21/q24
  * DuckDB-reproducible family — an oracle can recompute every feature id),
  * and the left-to-right fold pins the IEEE sum order so the score is
  * engine-identical. Weights must be a foldable literal (the trained model
  * ships broadcast-inline, the PqKernel codebook contract): decoded once
  * per task, never per row.
  */
/** Hashing-trick bag-of-words featurizer: the dim-length INTEGER count
  * vector `v[h1(token) mod dim] += 1` — raw text turned into the dense
  * vector the ANN/embedding family consumes, as ONE scan-side kernel with
  * no vocabulary join and no exchange at any corpus size (dim is the only
  * model state; the "embedding matrix" of the hashing trick is the
  * identity). h1 = the low 32 bits of [[GraftFunctions.portableTokenHash]]
  * — the same feature id [[HashFeatScore]] scores with, and the same
  * DuckDB-reproducible arithmetic, so a SQL oracle recomputes every count.
  * INTEGER counts by design: consumers get exact integer dot products
  * (graft_doti) and cross-multiplied cosine predicates with no IEEE
  * ordering anywhere; normalization is a consumer choice.
  */
case class HashCountVec(toks: Expression, dimExpr: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = toks
  override def right: Expression = dimExpr
  override def checkInputDataTypes(): TypeCheckResult =
    (toks.dataType, dimExpr.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        if (!dimExpr.foldable)
          TypeCheckResult.TypeCheckFailure("graft_hashvec dim must be a literal")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_hashvec expects (array<string>, int)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val dim: Int = {
    val d = dimExpr.eval(null).asInstanceOf[Int]
    require(d > 0, "graft_hashvec dim must be positive")
    d
  }

  override def nullSafeEval(a: Any, dAny: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val counts = new Array[Long](dim)
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      val h1 = GraftFunctions.portableTokenHash(arr.getUTF8String(t)) & 0xFFFFFFFFL
      counts((h1 % dim).toInt) += 1L
      t += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(toks = l, dimExpr = r)
}

case class HashFeatScore(toks: Expression, weights: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = toks
  override def right: Expression = weights
  override def checkInputDataTypes(): TypeCheckResult =
    (toks.dataType, weights.dataType) match {
      case (ArrayType(StringType, _), ArrayType(DoubleType, _)) =>
        if (!weights.foldable) TypeCheckResult.TypeCheckFailure(
          "graft_hashscore weights must be a literal/foldable array<double>")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_hashscore expects (array<string>, array<double>)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // weight vector literal decoded once per task, not per row
  @transient private lazy val w: Array[Double] =
    weights.eval(null).asInstanceOf[ArrayData].toDoubleArray()

  override def nullSafeEval(a: Any, wAny: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val dim = w.length
    var acc = 0.0
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      val h1 = GraftFunctions.portableTokenHash(arr.getUTF8String(t)) & 0xFFFFFFFFL
      acc += w((h1 % dim).toInt)
      t += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(toks = l, weights = r)
}
