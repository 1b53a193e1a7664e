package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Corpus

/** BPE trainer cost-model probe (VERDICT r8 Next #5): the fixture corpus
  * has only 31 distinct words, so merges exhaust almost immediately — this
  * probe synthesizes a corpus with a REAL vocabulary (deterministic random
  * letter-words, zipf-ish counts) and measures
  *   - bpeTrain (one Spark job per round) at small merge counts: the
  *     per-round scheduling constant, and the lineage growth that OOMs
  *     past ~20 rounds;
  *   - bpeTrainFast (one corpus scan + local incremental loop) at
  *     10/100/1000/5000 merges: the scan-dominated scale path.
  * Output: wall seconds per configuration, for BASELINE.md's table.
  */
object BpeProbe {

  def genCorpus(spark: SparkSession, nDocs: Int, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // deterministic word table: 3-10 lowercase letters per word
    val words = Array.tabulate(vocabSize) { i =>
      val rnd = new scala.util.Random(i * 2654435761L + 17L)
      val len = 3 + rnd.nextInt(8)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    spark.range(0, nDocs, 1, 32).map { id =>
      val rnd = new scala.util.Random(id * 40503L + 7L)
      val n = 30 + rnd.nextInt(40)
      val sb = new StringBuilder
      var k = 0
      while (k < n) {
        // zipf-ish: square the uniform so low ranks dominate
        val u = rnd.nextDouble()
        val idx = math.min(vocabSize - 1, (u * u * vocabSize).toInt)
        if (k > 0) sb.append(' ')
        sb.append(words(idx))
        k += 1
      }
      sb.toString
    }.toDF("text")
  }

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[bpe-probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val docs = genCorpus(spark, nDocs = 50000, vocabSize = 20000)
      .persist()
    println(s"[bpe-probe] corpus: ${docs.count()} docs, " +
      s"${docs.select(explode(split(col("text"), " "))).distinct().count()} distinct words")

    // distributed rounds: the per-round constant (watch it stay flat per
    // round — the total is rounds x constant + the one corpus scan)
    for (n <- Seq(5, 10, 15))
      time(s"bpeTrain (per-round jobs), $n merges") {
        Corpus.bpeTrain(docs, col("text"), n).collect()
      }
    // local loop: corpus scan amortized once, merges nearly free
    for (n <- Seq(10, 100, 1000, 5000))
      time(s"bpeTrainFast, $n merges") {
        Corpus.bpeTrainFast(docs, col("text"), n).collect()
      }
    // the loop alone (no Spark): isolates merge-loop cost from the scan
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (n <- Seq(1000, 5000, 20000))
      time(s"bpeMergeLoop only, $n merges") {
        Corpus.bpeMergeLoop(vocab, n)
      }
    spark.stop()
  }
}
