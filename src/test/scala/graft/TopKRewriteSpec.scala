package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule must turn `row_number() <= k` over a
  * descending window into the bounded top-k aggregate — same rows out, no
  * Window operator in the optimized plan — and must leave non-eligible
  * shapes (ascending order, other window functions) untouched.
  */
class TopKRewriteSpec extends AnyFunSuite {

  private val s2 = TestSpark.spark // carries GraftExtensions

  /** `q`'s rows with the rewrite rule excluded for this one optimization —
    * the Window plan the rewrite must reproduce. The session carries
    * GraftExtensions, so without the exclusion the reference would be the
    * rewrite itself.
    */
  private def windowReference(q: DataFrame): Set[(Long, Long, Int)] = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = s2.conf.getOption(key)
    s2.conf.set(key, "graft.plans.TopKRewrite")
    try {
      val ref = q.select("*") // a fresh Dataset: optimized under the exclusion
      val optimized = ref.queryExecution.optimizedPlan.toString
      assert(optimized.contains("Window"), s"reference must keep the Window:\n$optimized")
      assert(!optimized.contains("graft_topk"), s"reference must not be rewritten:\n$optimized")
      ref.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    } finally prev.fold(s2.conf.unset(key))(s2.conf.set(key, _))
  }

  test("latest-3 per user rewrites to graft_topk and matches the window result") {
    val e = Tables.events(s2, "/root/testdata/sf0.001")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val q = e.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("rn"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Window"), s"window must be rewritten:\n$optimized")
    assert(optimized.contains("graft_topk"), s"expected topk aggregate:\n$optimized")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = windowReference(q)
    assert(got.nonEmpty && got == want)
  }

  test("ties: rewritten result is a valid row_number outcome") {
    import s2.implicits._
    // 3 keys × 6 rows with DUPLICATE order values: row_number's choice among
    // ties is arbitrary, so the rewrite must return k rows per key whose
    // order values equal the true top-k value multiset
    val df = Seq(
      ("a", 5L, 1), ("a", 5L, 2), ("a", 3L, 3), ("a", 3L, 4), ("a", 1L, 5), ("a", 5L, 6),
      ("b", 9L, 7), ("b", 9L, 8), ("b", 2L, 9),
      ("c", 4L, 10)).toDF("k", "v", "id")
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc)
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    assert(!q.queryExecution.optimizedPlan.toString.contains("Window"))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    val byKey = got.groupBy(_._1)
    assert(byKey("a").map(_._2).sorted.toSeq == Seq(5L, 5L), "top-2 of a = two 5s")
    assert(byKey("b").map(_._2).sorted.toSeq == Seq(9L, 9L))
    assert(byKey("c").map(_._2).toSeq == Seq(4L), "k > group size returns all")
    byKey.values.foreach(rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq, "rn dense from 1"))
  }

  test("ascending windows rewrite to the bottom-k aggregate and match") {
    val e = Tables.events(s2, "/root/testdata/sf0.001")
    // oldest-3 per user: ASC NullsFirst (the ASC default) → bottom-k
    val asc = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val q = e.withColumn("rn", row_number().over(asc)).filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("rn"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Window"), s"asc window must be rewritten:\n$optimized")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = windowReference(q)
    assert(got.nonEmpty && got == want)
  }

  test("ascending rewrite keeps nulls first like the window it replaces") {
    import s2.implicits._
    val df = Seq(("a", Some(3L), 1), ("a", None, 2), ("a", Some(1L), 3), ("a", Some(9L), 4),
      ("b", None, 5), ("b", None, 6), ("b", Some(0L), 7))
      .toDF("k", "v", "id")
    val w = Window.partitionBy(col("k")).orderBy(col("v").asc)
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    assert(!q.queryExecution.optimizedPlan.toString.contains("Window"))
    val got = q.collect().map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    val byKey = got.groupBy(_._1)
    assert(byKey("a").map(_._2).toSet == Set(None, Some(1L)), "null sorts first under ASC")
    assert(byKey("b").map(_._2).toSeq.sortBy(_.isDefined) == Seq(None, None))
  }

  test("non-eligible windows are left alone") {
    val e = Tables.events(s2, "/root/testdata/sf0.001")
    // non-default null ordering: outside the soundness envelope
    val mixed = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc_nulls_first, col("event_id").desc)
    val q1 = e.withColumn("rn", row_number().over(mixed)).filter(col("rn") <= 3)
    assert(q1.queryExecution.optimizedPlan.toString.contains("Window"))
    // mixed directions: ineligible
    val mixedDir = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").asc)
    val q1b = e.withColumn("rn", row_number().over(mixedDir)).filter(col("rn") <= 3)
    assert(q1b.queryExecution.optimizedPlan.toString.contains("Window"))
    // rank() is not row_number: ineligible (ties make the result unbounded;
    // vanilla WindowGroupLimit is the right plan for it)
    val desc = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val q2 = e.withColumn("rn", rank().over(desc)).filter(col("rn") <= 3)
    assert(q2.queryExecution.optimizedPlan.toString.contains("Window"))
  }
}
