package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Hand-computed fixed-point PageRank rounds on a path graph plus an
  * isolated node — the integer recurrence is exactly checkable by hand.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two rounds on 1-2-3 path match hand-computed integer ranks") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val r = Graph.pagerank(nodes, edges, iters = 2).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("rank")).toMap
    // round 1: r(1)=r(3)=150e9+85%*500e9=575e9; r(2)=150e9+85%*2000e9=1850e9
    // round 2: inflow(1)=1850e9 div 2=925e9 -> 150e9+786_250e6=936_250e6
    //          inflow(2)=575e9+575e9 -> 150e9+977_500e6=1_127_500e6
    assert(r(1L) == 936_250_000_000L)
    assert(r(2L) == 1_127_500_000_000L)
    assert(r(3L) == 936_250_000_000L)
    assert(r(9L) == 150_000_000_000L, "isolated node holds teleport mass only")
  }

  test("rank mass stays bounded and every node is ranked") {
    import spark.implicits._
    val nodes = (1L to 20L).toDF("doc_id")
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Graph.pagerank(nodes, edges, iters = 5).collect()
    assert(out.length == 20)
    val total = out.map(_.getAs[Long]("rank")).sum
    // damping keeps total mass <= n*scale; integer floors only shrink it
    assert(total <= 20L * 1000000000000L && total > 0L)
  }

  test("checkpointed lineage is rank-identical to the uncut loop") {
    import spark.implicits._
    val nodes = (1L to 30L).toDF("doc_id")
    val edges = (1L until 30L).map(i => (i, i % 7 + 1)).toDF("doc_a", "doc_b")
    def ranks(every: Int) =
      Graph.pagerank(nodes, edges, iters = 9, checkpointEvery = every)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank"))
        .toMap
    // cutting the plan every 2 rounds is a pure materialization choice —
    // all-integer arithmetic must give bit-identical ranks either way
    assert(ranks(every = 2) == ranks(every = Int.MaxValue))
  }

  test("pagerank: reliable checkpoint dir yields identical ranks and writes data") {
    import spark.implicits._
    val nodes = (1L to 30L).toDF("doc_id")
    val edges = (1L until 30L).map(i => (i, i % 7 + 1)).toDF("doc_a", "doc_b")
    val dir = TestSpark.tmpDir("pr_ckpt")
    try {
      val local = Graph.pagerank(nodes, edges, iters = 4, checkpointEvery = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // the round-11 advisory bug: checkpointDir=Some(dir) on a context with
      // no checkpoint dir set threw SparkException at the first mat() —
      // pagerank must set it like kCore/connectedComponents/Pipeline.curate.
      // Round-12 contract refinement (set-only-when-unset): a dir another
      // operator configured earlier in the shared session WINS, so assert
      // against the EFFECTIVE dir, not necessarily ours — reliable
      // checkpointing needs some dir, and materialized RDD data must land
      // wherever the context points.
      val reliable = Graph.pagerank(nodes, edges, iters = 4,
          checkpointEvery = 2, checkpointDir = Some(dir))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(reliable == local)
      assert(TestSpark.effectiveCheckpointFiles() > 0,
        "checkpoint dir must contain materialized RDD data")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("triangles: hand-built graph with a hub counts exactly once per triangle") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + pendant 5-1 (no new triangle) +
    // separate triangle {6,7,8} → 5 total; node 1 is the degree-4 hub
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (6L, 7L), (6L, 8L), (7L, 8L)).toDF("doc_a", "doc_b")
    val n = Graph.triangles(edges).collect()(0).getAs[Long]("n_triangles")
    assert(n == 5L)
  }

  test("triangles: degree-oriented count equals the naive id-ordered 3-way join") {
    import spark.implicits._
    // seeded random graph with planted hubs (skew the orientation handles)
    val rnd = new scala.util.Random(42)
    val raw = (1 to 400).map { _ =>
      val a = rnd.nextInt(40).toLong
      // half the edges touch the 3 hub nodes
      val b = if (rnd.nextBoolean()) rnd.nextInt(3).toLong else rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val edges = raw.toDF("doc_a", "doc_b")
    val got = Graph.triangles(edges).collect()(0).getAs[Long]("n_triangles")
    val e1 = edges.select(col("doc_a").as("x"), col("doc_b").as("y"))
    val naive = e1
      .join(edges.select(col("doc_a").as("x2"), col("doc_b").as("z")),
        col("x2") === col("x") && col("z") > col("y"))
      .join(edges.select(col("doc_a").as("y3"), col("doc_b").as("z3")),
        col("y3") === col("y") && col("z3") === col("z"), "left_semi")
      .count()
    assert(got == naive, s"oriented $got vs naive $naive")
  }

  test("kCore peels pendant chains round by round, keeps the cycle") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5: node 5 peels in round 1, node 4 only
    // in round 2 (its degree drops to 1 after 5 leaves) — so rounds=1 must
    // still see node 4, rounds>=2 must not
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    def nodes(rounds: Int): Map[Long, Long] =
      Graph.kCore(edges, k = 2, rounds = rounds).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("deg")).toMap
    val r1 = nodes(1)
    assert(r1.keySet == Set(1L, 2L, 3L, 4L), s"round 1 keeps 4: $r1")
    val r2 = nodes(2)
    assert(r2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"round 2 is the 2-core: $r2")
    assert(nodes(6) == r2, "further rounds are a fixpoint")
  }
}
