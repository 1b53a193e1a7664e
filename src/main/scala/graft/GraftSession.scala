package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built: Bench's config, shared by
  * Verify, the tools and the test suite, so every caller runs, times and
  * explains the plans the bench runs (GraftExtensions' functions and rules
  * included). GraftSessionSpec fails if any other main source builds a
  * session. It sets no codegen cache size of its own: it inherits
  * GraftExtensions' `spark.sql.codegen.cache.maxEntries`, which a `-D` flag
  * still overrides.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
