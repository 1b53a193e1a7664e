package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, Text}

/** The native Catalyst expressions must equal their HOF reference
  * implementations bit-for-bit (they replace them purely for codegen speed).
  */
class NativeExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs() = {
    GraftFunctions.register(spark)
    Tables.load(spark, "/root/testdata/sf0.001", "documents")
  }

  test("graft_pqencode/graft_pqlut match hand-computed codes and table") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // 2 subspaces of 2 dims, 2 centroids each, laid out [(s*k+c)*sub+j]:
    // s0: c0=(0,0) c1=(10,10); s1: c0=(1,0) c1=(0,1)
    val books = Seq(0.0, 0.0, 10.0, 10.0, 1.0, 0.0, 0.0, 1.0)
    val df = Seq((1L, Seq(9.0, 9.0, 0.1, 0.9)), (2L, Seq(1.0, 1.0, 0.9, 0.1)))
      .toDF("id", "v")
      .select(col("id"),
        call_function("graft_pqencode", col("v"), typedLit(books), lit(2), lit(2)).as("codes"),
        call_function("graft_pqlut", col("v"), typedLit(books), lit(2), lit(2)).as("lut"))
    val rows = df.orderBy(col("id")).collect()
    // row 1: (9,9) nearest (10,10) -> 1; (0.1,0.9) nearest (0,1) -> 1
    assert(rows(0).getSeq[Int](1) == Seq(1, 1))
    // row 2: (1,1) nearest (0,0) -> 0; (0.9,0.1) nearest (1,0) -> 0
    assert(rows(1).getSeq[Int](1) == Seq(0, 0))
    // lut[s*k+c] = <x_s, c>: row 1 -> (0, 180, 0.1, 0.9)
    assert(rows(0).getSeq[Double](2) == Seq(0.0, 180.0, 0.1, 0.9))
  }

  test("graft_pqscore equals the element_at HOF fold and hand-computed sums") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // k=2: lut [s0c0, s0c1, s1c0, s1c1]; codes pick one entry per subspace
    val df = Seq(
      (1L, Seq(1, 1), Seq(0.0, 180.0, 0.1, 0.9)),
      (2L, Seq(0, 0), Seq(2.0, 180.0, 0.5, 0.9)),
      (3L, Seq(1, 0), Seq(-1.5, 4.0, 0.25, 7.0))).toDF("id", "codes", "lut")
    val both = df.select(col("id"),
      call_function("graft_pqscore", col("codes"), col("lut"), lit(2)).as("native"),
      expr("""aggregate(zip_with(codes, sequence(0, 1),
             |  (c, s) -> element_at(lut, CAST(s * 2 + c + 1 AS INT))),
             |  0.0D, (acc, x) -> acc + x)""".stripMargin).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    val byId = both.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L) == 180.0 + 0.9 && byId(2L) == 2.0 + 0.5 && byId(3L) == 4.0 + 0.25)
  }

  test("pq kernels reject a non-foldable codebook at analysis time") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq(1.0, 2.0), Seq(0.0, 0.0))).toDF("v", "notabook")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_pqlut", col("v"), col("notabook"),
        lit(1), lit(2))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable"))
  }

  test("graft_dot equals the zip_with/aggregate fold bit-for-bit") {
    GraftFunctions.register(spark)
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val both = e.select(
      call_function("graft_dot", col("v"), col("v")).as("native"),
      expr("aggregate(zip_with(v, v, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == 500)
  }

  test("graft_minhash equals the HOF minhash lane-for-lane") {
    val sh = docs().select(Text.shingles(Text.tokens(col("text")), 3).as("sh"))
    val both = sh.select(
      call_function("graft_minhash", col("sh"), lit(8)).as("native"),
      Text.minhash(col("sh"), 8).as("hof"))
    assert(both.filter(not(col("native") === col("hof"))).count() == 0)
  }

  test("graft_shingles equals the HOF shingle chain element-for-element") {
    val both = docs().select(
      call_function("graft_shingles", col("text"), lit(3)).as("native"),
      Text.shingles(Text.tokens(col("text")), 3).as("hof"))
    assert(both.filter(not(col("native") === col("hof"))).count() == 0)
    // edge cases: short doc, empty, repeated whitespace
    import spark.implicits._
    val edge = Seq("one two", "", "  a  b c d  ", "x x x x x").toDF("text")
      .select(
        call_function("graft_shingles", col("text"), lit(3)).as("native"),
        Text.shingles(Text.tokens(col("text")), 3).as("hof"))
    assert(edge.filter(not(col("native") === col("hof"))).count() == 0)
  }

  test("graft_bands equals the HOF band chain element-for-element") {
    GraftFunctions.register(spark)
    // real signatures, 128 lanes / 64 bands (the near-dup geometry) and
    // 32/8 (the streaming-index geometry)
    for ((k, b) <- Seq((128, 64), (32, 8))) {
      val r = k / b
      val sig = docs().select(
        call_function("graft_minhash",
          call_function("graft_shingles", col("text"), lit(3)), lit(k)).as("sig"))
      val both = sig.select(
        Text.bands(col("sig"), b, r).as("native"),
        Text.bandsHof(col("sig"), b, r).as("hof"))
      assert(both.filter(not(col("native") === col("hof"))).count() == 0)
    }
    // NULL sig (short doc -> graft_minhash null): the HOF spelling hashes
    // the null slice as identity, yielding xxhash64(band)-only keys — the
    // native kernel must reproduce that, not return null
    import spark.implicits._
    val edge = Seq("one two", "", "a b c d e f g h").toDF("text")
      .select(call_function("graft_minhash",
        call_function("graft_shingles", col("text"), lit(3)), lit(8)).as("sig"))
    val eb = edge.select(
      Text.bands(col("sig"), 4, 2).as("native"),
      Text.bandsHof(col("sig"), 4, 2).as("hof"))
    assert(eb.filter(col("native").isNull || not(col("native") === col("hof")))
      .count() == 0)
    // signature shorter than numBands*r: slice past the end = shorter slice
    val shortSig = Seq(Seq(1L, 2L, 3L)).toDF("sig")
    val sb = shortSig.select(
      Text.bands(col("sig"), 4, 2).as("native"),
      Text.bandsHof(col("sig"), 4, 2).as("hof"))
    assert(sb.filter(not(col("native") === col("hof"))).count() == 0)
  }

  test("graft_cellargmax / graft_celltop equal the struct-array spelling " +
      "(random and tied scores)") {
    // zero divisors (zero-norm vectors) are NOT tested: under ANSI mode the
    // expression spelling THROWS DIVIDE_BY_ZERO there, so that domain is
    // unreachable through the operators — the kernels' plain-double
    // division (±Inf/NaN) only differs where the expression form errors
    GraftFunctions.register(spark)
    import spark.implicits._
    val k = 64
    val rnd = new scala.util.Random(7)
    val cnrms = Array.tabulate(k)(_ => 0.5 + rnd.nextDouble())
    val cids = Array.tabulate(k)(c => (1000 - c * 7).toLong) // non-monotonic
    val rows = (0 until 500).map { i =>
      val lut = Array.tabulate(k) { c =>
        if (i % 5 == 0 && c % 3 == 0) 0.25 * cnrms(c) // planted score ties
        else (rnd.nextDouble() - 0.5) * 4
      }
      (i.toLong, lut.toSeq, 0.5 + (i % 17) * 0.1)
    }.toDF("id", "lut", "nrm")
    val cnrmsLit = typedLit(cnrms.toSeq).cast("array<double>")
    val cidsLit = typedLit(cids.toSeq).cast("array<bigint>")
    val scoreStructs = array((0 until k).map(c =>
      struct((element_at(col("lut"), lit(c + 1)) / (col("nrm") * lit(cnrms(c))))
        .as("score"), lit(cids(c)).as("cid"))): _*)
    val both = rows.select(
      call_function("graft_cellargmax", col("lut"), col("nrm"), cnrmsLit,
        cidsLit).as("k_arg"),
      array_max(scoreStructs).getField("cid").as("e_arg"),
      call_function("graft_celltop", col("lut"), col("nrm"), cnrmsLit,
        cidsLit, lit(16)).as("k_top"),
      slice(reverse(array_sort(scoreStructs)), 1, 16).as("e_top_structs"))
      .withColumn("e_top", transform(col("e_top_structs"), _.getField("cid")))
    assert(both.filter(col("k_arg") =!= col("e_arg")).count() == 0,
      "argmax kernel diverged from array_max struct spelling")
    assert(both.filter(not(col("k_top") === col("e_top"))).count() == 0,
      "top-n kernel diverged from reverse(array_sort) struct spelling")
  }

  test("cell kernels reject null literals and n < 1 at analysis") {
    // a null n would unbox to 0 and return [] for every row, and a null
    // cnrms/cids literal would throw an NPE from the type check
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), 1.0)).toDF("lut", "nrm")
    val cnrms = typedLit(Seq(1.0, 1.0)).cast("array<double>")
    val cids = typedLit(Seq(7L, 9L)).cast("array<bigint>")
    def top(cn: Column, ci: Column, n: Column) =
      df.select(call_function("graft_celltop", col("lut"), col("nrm"), cn, ci, n))
    def argmax(cn: Column, ci: Column) =
      df.select(call_function("graft_cellargmax", col("lut"), col("nrm"), cn, ci))
    val nullD = lit(null).cast("array<double>")
    val nullL = lit(null).cast("array<bigint>")
    val bads: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => top(cnrms, cids, lit(null).cast("int")),
      () => top(cnrms, cids, lit(0)),
      () => top(nullD, cids, lit(1)),
      () => top(cnrms, nullL, lit(1)),
      () => argmax(nullD, cids),
      () => argmax(cnrms, nullL))
    for (bad <- bads) {
      val e = intercept[org.apache.spark.sql.AnalysisException](bad().collect())
      assert(e.getMessage.contains("cell kernel"), e.getMessage)
    }
    // the legal calls still analyze: scores (1.0, 2.0) → cid 9 first
    assert(top(cnrms, cids, lit(1)).head().getSeq[Long](0) == Seq(9L))
    assert(argmax(cnrms, cids).head().getLong(0) == 9L)
  }

  test("graft_bands rejects non-literal and degenerate geometry at analysis") {
    // r17 (ADVICE): nullable = false is only honest when b/r cannot reach
    // eval as null, and b <= 0 is where the kernel diverges from the HOF
    // spec (sequence(0, b-1) descends) — both must die in analysis, not
    // reach execution
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L, 4L), 4)).toDF("sig", "b")
    // analysis is eager at select(), so each bad projection is built
    // lazily INSIDE the intercept
    val bads: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => df.select(call_function("graft_bands", col("sig"), col("b"), lit(2))),
      () => df.select(call_function("graft_bands", col("sig"), lit(0), lit(2))),
      () => df.select(call_function("graft_bands", col("sig"), lit(4), lit(0))),
      () => df.select(call_function("graft_bands", col("sig"),
        lit(null).cast("int"), lit(2))))
    for (bad <- bads) {
      val e = intercept[org.apache.spark.sql.AnalysisException](bad().collect())
      assert(e.getMessage.contains("graft_bands"), e.getMessage)
    }
    // the legal geometry still analyzes and returns b keys
    assert(df.select(call_function("graft_bands", col("sig"), lit(2), lit(2)))
      .head().getSeq[Long](0).length == 2)
  }

  test("graft_stage1 equals the five HOF split/filter counters") {
    GraftFunctions.register(spark)
    val both = docs().select(
      call_function("graft_stage1", col("text")).as("native"),
      array(
        expr("CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)"),
        expr("CAST(size(filter(split(text, ' '), x -> array_contains(array('the','a','of','and','to','in','is'), x))) AS BIGINT)"),
        expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('the','and','of','is','to'), x))) AS BIGINT)"),
        expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('el','la','de','que','y','los'), x))) AS BIGINT)"),
        expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('der','die','das','und','ist'), x))) AS BIGINT)")
      ).as("hof"))
    assert(both.filter(not(col("native") === col("hof"))).count() == 0)
    // edges: empty text, all-stopword text, mixed case, repeated spaces
    import spark.implicits._
    val edge = Seq("", "the a of and to in is", "The THE the", "  el  la  ",
        "der und das ist la the").toDF("text")
      .select(
        call_function("graft_stage1", col("text")).as("native"),
        array(
          expr("CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)"),
          expr("CAST(size(filter(split(text, ' '), x -> array_contains(array('the','a','of','and','to','in','is'), x))) AS BIGINT)"),
          expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('the','and','of','is','to'), x))) AS BIGINT)"),
          expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('el','la','de','que','y','los'), x))) AS BIGINT)"),
          expr("CAST(size(filter(split(lower(text), ' '), x -> array_contains(array('der','die','das','und','ist'), x))) AS BIGINT)")
        ).as("hof"))
    assert(edge.filter(not(col("native") === col("hof"))).count() == 0)
  }

  test("graft_simhash equals the HOF simhash") {
    val tk = docs().select(Text.tokens(col("text")).as("tk"))
    val both = tk.select(
      call_function("graft_simhash", col("tk")).as("native"),
      Text.simhash(col("tk")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_fp equals the per-char aggregate fold") {
    val both = docs().select(
      call_function("graft_fp", col("text"), lit(0)).as("native"),
      expr("aggregate(transform(sequence(1, length(text)), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_hashscore equals the HOF fold bit-for-bit and handles empties") {
    val w = (0 until 1024).map(j =>
      ((j.toLong * 2654435761L + 40503L) % 4294967296L).toDouble
        / 4294967296.0 - 0.5)
    val wCol = typedLit(w).cast("array<double>")
    // HOF reference: the portable h1 (low 32 bits of the token hash) mod
    // dim indexes the weight literal; aggregate folds in token order
    val hof = expr(
      """aggregate(filter(split(text, ' '), x -> x != ''), CAST(0.0 AS DOUBLE),
        |  (acc, tok) -> acc + element_at(w,
        |    CAST((((aggregate(transform(sequence(1, length(tok)), i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT)),
        |            CAST(0 AS BIGINT), (a, c) -> (a * 31 + c) % 1000000007)
        |          * 2654435761 + 40503) % 4294967296) % 1024) AS INT) + 1))"""
        .stripMargin)
    val both = docs().withColumn("w", wCol).select(
      call_function("graft_hashscore", Text.tokens(col("text")), wCol).as("native"),
      hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // empty token array -> 0.0 (the fold seed), not null
    import spark.implicits._
    val empty = Seq("").toDF("text").select(
      call_function("graft_hashscore", Text.tokens(col("text")), wCol).as("s"))
      .head()
    assert(empty.getDouble(0) == 0.0)
  }

  test("graft_hashvec counts tokens into hashed slots; dot with weights equals graft_hashscore") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // structural invariants on the corpus: Σ vec = token count, |vec| = dim
    val basic = docs().select(
        call_function("graft_hashvec", Text.tokens(col("text")), lit(64)).as("v"),
        size(Text.tokens(col("text"))).cast("long").as("n"))
      .select(col("v"), col("n"), size(col("v")).as("d"),
        aggregate(col("v"), lit(0L), (a, x) => a + x).as("s"))
    assert(basic.filter(col("d") =!= 64 || col("s") =!= col("n")).count() == 0)
    // repeated token lands in ONE slot
    val rep = Seq("tok tok tok").toDF("text").select(
        call_function("graft_hashvec", Text.tokens(col("text")), lit(8)).as("v"))
      .select(array_max(col("v")).as("mx"),
        size(filter(col("v"), _ > 0L)).as("nz")).head()
    assert(rep.getLong(0) == 3L && rep.getInt(1) == 1)
    // cross-kernel identity: hashscore's token-order fold == ⟨counts, w⟩
    // (same fid arithmetic by construction; counts are small integers so
    // the two IEEE orders agree to double rounding)
    val w = (0 until 64).map(j => (j * 37 % 19).toDouble / 7.0 - 1.0)
    val wCol = typedLit(w).cast("array<double>")
    val xk = docs().select(
        call_function("graft_hashscore", Text.tokens(col("text")), wCol).as("score"),
        call_function("graft_hashvec", Text.tokens(col("text")), lit(64)).as("v"))
      .select(col("score"),
        call_function("graft_dot",
          expr("transform(v, x -> CAST(x AS DOUBLE))"), wCol).as("dot"))
    assert(xk.filter(abs(col("score") - col("dot")) > 1e-9).count() == 0)
    // null text -> null vector (not a zero vector)
    val nul = Seq[Option[String]](None).toDF("text").select(
      call_function("graft_hashvec", Text.tokens(col("text")), lit(8)).as("v")).head()
    assert(nul.isNullAt(0))
  }

  test("graft_hashscore rejects non-foldable weights at analysis time") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq("a", "b"), Seq(0.1, 0.2))).toDF("tk", "notweights")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_hashscore", col("tk"), col("notweights")))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable"))
  }

  test("GraftExtensions injects graft_* into a SQL-only session") {
    import org.apache.spark.sql.SparkSession
    val base = TestSpark.spark // ensure the shared SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a NEW session (shared context) built purely via the extension hook —
      // no GraftFunctions.register call anywhere on this path
      val s2 = SparkSession.builder().master(base.sparkContext.master)
        .withExtensions(new GraftExtensions).getOrCreate()
      assert(s2 ne base)
      val d = s2.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0)
      assert(d == 11.0)
      val fp = s2.sql("SELECT graft_fp('hello world', 0) AS f").head().getLong(0)
      val hof = s2.sql(
        """SELECT aggregate(transform(sequence(1, length('hello world')),
          |  i -> CAST(ascii(substr('hello world', i, 1)) AS BIGINT)),
          |  CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007) AS f""".stripMargin)
        .head().getLong(0)
      assert(fp == hof)
      // every injected function — present and future — must resolve in the
      // SQL-only session, not just the two spot-checked above
      graft.GraftExtensions.injected.foreach { case (name, _, _) =>
        assert(s2.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"$name not injected into the SQL-only session")
      }
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("graft_fp honors the maxChars prefix bound") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val r = Seq("abcdef").toDF("t")
      .select(call_function("graft_fp", col("t"), lit(3)).as("p3"),
        call_function("graft_fp", substring(col("t"), 1, 3), lit(0)).as("sub3"))
      .collect().head
    assert(r.getLong(0) == r.getLong(1))
  }
}
