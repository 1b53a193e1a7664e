package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench main (driver contract): times every declared query at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Queries are forced through the `noop` sink, not `count()` — count lets
  * Catalyst prune every projected column, so expensive expressions (sketches,
  * fingerprints, window columns) would never execute and the numbers would be
  * fiction. `noop` materializes all output columns and discards them.
  *
  * The harness is un-killable by construction ([[run]], spec-tested in
  * BenchSpec): the warm-up and every rep sit inside try/catch, a failed
  * query records value -1 and joins the `errors` array, and the JSON line
  * prints regardless — round 6 lost its entire bench signal to one analysis
  * error that escaped before the line was emitted.
  */
object Bench {

  /** Composed ingest-funnel gates run at ONE rep (r13 verdict #7): each
    * replays a full tape through 3–4 real stateful streaming queries in
    * ordered micro-batches (q207 additionally decodes 5k PNGs), so a rep
    * costs 6–25 s of pure gate-apparatus wall — 26% of the round's bench —
    * while the min-of-N exists for JIT/codegen variance that these
    * multi-second scheduling-bound replays don't suffer proportionally
    * (their rep-to-rep spread is a few %, measured r13). Correctness is
    * hash-gated elsewhere; one timed pass is the honest number.
    */
  private val singleRepQueries: Set[String] = Set(
    "q195_streaming_curation", "q196_streaming_curation_ttl",
    "q207_streaming_funnel_media")

  private def timeOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, reps: Int): Double = {
    val times = (1 to reps).flatMap { _ =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e"); None }
    }
    if (times.size == reps) times.min else -1.0
  }

  /** Tolerant extraction of the `"queries":{...}` map from a previous
    * bench_out line (we wrote it, so the shape is known: flat string→number
    * pairs, no nesting). Any parse trouble → empty map, never a throw.
    */
  def parseQueriesMap(json: String): Map[String, Double] = {
    try {
      val start = json.indexOf("\"queries\":{")
      if (start < 0) return Map.empty
      val body = json.substring(start + "\"queries\":{".length)
      val end = body.indexOf('}')
      if (end < 0) return Map.empty
      val pair = """"([^"]+)":(-?[0-9.eE+-]+)""".r
      pair.findAllMatchIn(body.substring(0, end))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
  }

  /** Time each query (min of `reps`, noop sink) and render the driver's
    * one-line JSON. Pure besides Spark execution — unit-testable with a
    * poisoned query map.
    *
    * `prev` (a previous run's per-query map) arms the OUTLIER REQUEUE:
    * two rounds running, the driver tail flagged 2-7 queries at 3-14× that
    * solo re-measures then cleared — co-scheduled-rep noise moving around
    * a 165-query session, not plan regressions. Any query whose fresh min
    * lands >2× its previous min (and >0.25 s absolute, so micro-queries
    * don't churn) is re-timed ONCE at the END of the run — the quiet tail,
    * free of the neighborhood that inflated it — and its reported value is
    * the min of both samples. Both samples are recorded under `"requeued"`
    * so the adjudication is in the artifact, not a next-round guess.
    */
  def run(spark: SparkSession, sfDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          reps: Int, prev: Map[String, Double] = Map.empty): String = {
    val firstPass = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val r = if (singleRepQueries(name)) 1 else reps
      (name, fn, timeOne(spark, sfDir, name, fn, r))
    }
    val requeued = firstPass.flatMap { case (name, fn, t) =>
      prev.get(name) match {
        case Some(p) if p > 0 && t > 2 * p && t > 0.25 =>
          val t2 = timeOne(spark, sfDir, name, fn,
            if (singleRepQueries(name)) 1 else reps)
          System.err.println(
            f"[bench] requeue $name: first $t%.2f s vs prev $p%.2f s -> retail $t2%.2f s")
          Some(name -> (t, if (t2 >= 0) t2 else t))
        case _ => None
      }
    }.toMap
    val results = firstPass.map { case (name, _, t) =>
      (name, requeued.get(name).map { case (a, b) => math.min(a, b) }.getOrElse(t))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val rq = requeued.toSeq.sortBy(_._1)
      .map { case (k, (a, b)) => "\"" + k + "\":[" + a + "," + b + "]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errors,"requeued":$rq,"reps":$reps,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // warm the session (JVM/codegen/parquet footer caches) outside the clock.
    // try/catch: a broken warm-up query must not zero the whole round's bench
    // signal (round 6: one loader analysis error → rc=1, no JSON at all).
    SparkEntry.queries.get("q01_scan_project").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: $e") }
    }
    // a failed query must be unmistakable in the JSON (value -1 + errors
    // list), never an ordinary-looking elapsed time.
    // min-of-3 runs per query: single-shot numbers at this scale carry
    // ±30-40% JIT/codegen variance (first execution pays whole-stage
    // compile), which swamps real plan changes round-over-round; the min is
    // the stable signal and matches how BASELINE.md's table is recorded.
    // (reps=2 still recorded double-bad samples — r3's q37 logged 13.9 s vs
    // a real 0.76 s; the third rep is the cheap insurance.)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // dev-only isolation knob (comma-separated names): measure a query solo,
    // free of the 140-query session's GC/codegen-cache neighborhood — the
    // driver sets no filter and times everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val qs = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // previous run's map (if any) arms the end-of-run outlier requeue
    val prev =
      try {
        val p = java.nio.file.Paths.get("bench_out.json")
        if (java.nio.file.Files.exists(p))
          parseQueriesMap(java.nio.file.Files.readString(p))
        else Map.empty[String, Double]
      } catch { case _: Throwable => Map.empty[String, Double] }
    val line = run(spark, sfDir, qs, reps, prev)
    // stdout AND files: the driver's log tail-capture truncated BENCH_r07's
    // single JSON line mid-map (parsed: null, 83 of 142 per-query numbers
    // lost) — the file artifact can't be truncated by log capture. TWO
    // files: bench_out.json (latest, the requeue reference for the next
    // run) and a per-run bench_out_<label>.json — round 8's driver run
    // overwrote the builder's solo artifact and orphaned a BASELINE claim;
    // versioned artifacts make a claim and its evidence inseparable.
    // default label carries the PID: a second-resolution timestamp alone
    // let two invocations in the same second silently overwrite each
    // other's artifact — the orphaned-BASELINE-claim problem the versioned
    // artifacts exist to prevent. An explicit SPARK_GRAFT_BENCH_LABEL is
    // taken as intent and left alone.
    val label = sys.env.getOrElse("SPARK_GRAFT_BENCH_LABEL",
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now()) +
        s"_p${ProcessHandle.current().pid()}")
    // per-run artifacts live under bench/artifacts/ (repo-root clutter was
    // a round-9 verdict item); bench_out.json stays at root because it is
    // the full-inventory requeue reference the next driver run reads.
    // a BENCH_ONLY subset run must NOT overwrite bench_out.json.
    val artDir = java.nio.file.Paths.get("bench", "artifacts")
    try java.nio.file.Files.createDirectories(artDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] mkdir $artDir failed: $e") }
    val labeled = artDir.resolve(s"bench_out_$label.json")
    val outFiles =
      if (only.isDefined) Seq(labeled)
      else Seq(java.nio.file.Paths.get("bench_out.json"), labeled)
    for (f <- outFiles) {
      try java.nio.file.Files.writeString(f, line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] $f write failed: $e") }
    }
    println(line)
    // a COMPACT trailer line that fits the driver's 2000-char stdout tail
    // window: the full line above is ~10 KB for 230+ queries, so tail
    // capture cuts it mid-map and the driver records parsed: null. This
    // line carries the headline total, the query count and the ten
    // slowest queries (bounded size by construction); the complete
    // per-query map lives in bench_out.json and the labeled artifact.
    try {
      val total = "\"value\":([0-9.eE+-]+)".r.findFirstMatchIn(line)
        .map(_.group(1)).getOrElse("0")
      val slow = parseQueriesMap(line).toSeq.sortBy(-_._2).take(10)
        .map { case (k, v) => f""""$k":${v}%.3f""" }.mkString(",")
      println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""sf":"$sfDir","queries_n":${qs.size},""" +
        s""""artifact":"bench_out_$label.json","slowest":{$slow}}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] compact trailer failed: $e") }
    spark.stop()
  }
}
