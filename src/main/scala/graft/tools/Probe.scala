package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{Quantize, Similarity}

/** Dev entry point over the declared queries, on the bench's own session
  * (GraftSession at local[$SPARK_GRAFT_CPUS], default 32, as Bench):
  *
  *   time   <sfDir> <query...> [reps]  one warm run, then `reps` (default 3)
  *                                     noop-sink runs each; prints every run,
  *                                     the classes each run compiled, and
  *                                     the min (the stable signal)
  *   plan   <sfDir> [query...]         formatted physical plans; every
  *                                     query when none is named
  *   show   <sfDir> <query...>         the first 50 output rows
  *   recall <sfDir...>                 recall@10 of each ANN path against one
  *                                     brute-force reference per dir: the
  *                                     measurements behind the q44, q86 and
  *                                     q97 floors
  */
object Probe {
  private val usage =
    "usage: Probe time|plan|show <sfDir> <query...> | Probe recall <sfDir...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("time", "plan", "show", "recall")(args(0)), usage)
    val (cmd, sfDir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    cmd match {
      case "time" =>
        val (names, reps) =
          if (rest.length > 1 && rest.last.forall(_.isDigit)) (rest.init, rest.last.toInt)
          else (rest, 3)
        names.foreach { name =>
          // (seconds, classes compiled): a warm run that still compiles
          // is losing its classes from Spark's generated-class cache
          def run(): (Double, Long) = {
            val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val t0 = System.nanoTime()
            query(name).write.format("noop").mode("overwrite").save()
            ((System.nanoTime() - t0) / 1e9,
              CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
          }
          run() // warm: parquet footers, codegen
          val (times, compiles) = Seq.fill(reps)(run()).unzip
          println(f"$name: runs=${times.map(t => f"$t%.2f").mkString(",")} " +
            f"compiles=${compiles.mkString(",")} min=${times.min}%.2f")
        }
      case "plan" =>
        val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n => println(s"=== $n ==="); query(n).explain("formatted") }
      case "show" =>
        rest.foreach { n => println(s"=== $n ==="); query(n).show(50, false) }
      case "recall" =>
        (sfDir +: rest).foreach(recall(spark, _))
    }
    spark.stop()
  }

  /** hits / reference pairs: the ratio the quality gates hold to a floor */
  private def recall(spark: SparkSession, sfDir: String): Unit = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val probes = col("vec_id") < 5
    def pairs(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def report(label: String, approx: Set[(Long, Long)], exact: Set[(Long, Long)]): Unit = {
      val hit = approx.intersect(exact).size
      println(f"[recall] $sfDir $label%-26s ${hit.toDouble / math.max(1, exact.size)}%.3f ($hit/${exact.size})")
    }
    val exact = pairs(Similarity.bruteForceKnn(emb, probes, k = 10), "qid", "vec_id")
    def knn(label: String, approx: DataFrame): Unit =
      report(label, pairs(approx, "qid", "vec_id"), exact)
    knn("lsh_knn", Similarity.lshKnn(emb, probes, k = 10))
    knn("ivf_knn", Similarity.ivfKnn(emb, probes, k = 10))
    for ((cb, os, ti) <- Seq((256, 16, 0), (256, 16, 5), (256, 8, 5)))
      knn(s"pq cb=$cb os=$os ti=$ti", Quantize.pqKnn(emb, probes, k = 10,
        codebookSize = cb, oversample = os, trainIters = ti))
    for (np <- Seq(8, 16))
      knn(s"ivfpq cells=64 nprobe=$np",
        Quantize.ivfPqKnn(emb, probes, k = 10, cells = 64, nprobe = np))
    report("lsh_dup_pairs",
      pairs(Similarity.cosineDupPairsLsh(emb, threshold = 0.4), "id_a", "id_b"),
      pairs(Similarity.cosineDupPairs(emb, threshold = 0.4), "id_a", "id_b"))
  }
}
