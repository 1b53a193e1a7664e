package graft.sources

import org.apache.spark.sql.{Column, DataFrame}

/** Pure-DataFrame warehouse maintenance pieces: a small-files compaction
  * planner ([[compactionPlan]], q200), a CDC MERGE ([[mergeUpsert]], q208
  * and [[TableLog.mergeUpsert]]) and the Z-order clustering key
  * ([[zValue]], [[scaleToBits]], [[zClustered]]; q93, q225). None of them
  * touches a file: rewriting, overwriting or appending table files
  * exactly once is [[TableLog]]'s job, through its manifest commit.
  */
object Warehouse {

  /** Small-files compaction PLAN: given a (file_id, bytes) manifest, emit
    * one row per file with the maintenance decision —
    *   action = 'keep',    bin = −1  for files already ≥ targetBytes
    *            (rewriting them wastes IO: they are the size the rewrite
    *            aims for), and
    *   action = 'rewrite', bin = floor(exclusive-prefix-sum(bytes) /
    *            targetBytes) in file_id order for the small files —
    * budget-quantized next-fit bin packing through the SAME two-pass
    * prefix-sum machinery as training-shard packing
    * ([[graft.operators.Corpus.packShardsByCount]] — files by bytes are
    * just another unit stream with an integer cost). Guarantees: bin ids
    * are dense from 0, the bin count is exactly
    * ⌊(Σbytes − last_file_bytes)/target⌋ + 1 — within one of Σ/target
    * either way (amortized target-sized output) — and no bin exceeds
    * 2·target (a bin spans < 2 target-widths of prefix space and every
    * member is < target); an individual bin can undershoot when file
    * boundaries straddle its prefix range — the quantized-prefix trade
    * that keeps the plan ONE window expression instead of a sequential
    * first-fit fold. All-integer and SQL-expressible, which is what lets
    * the q200 gate hash-match a DuckDB window-sum re-derivation.
    *
    * At 100 TB this is a plan over file METADATA (millions of rows at
    * most); the rewrite itself is [[TableLog.compact]]'s, and splitting
    * plan from execution is what lets an operator review or throttle the
    * rewrite set before burning cluster IO on it.
    */
  def compactionPlan(files: DataFrame, idCol: Column, bytesCol: Column,
      targetBytes: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val f = files.select(idCol.cast("long").as("file_id"),
      bytesCol.cast("long").as("bytes"))
    val keeps = f.filter(col("bytes") >= targetBytes)
      .select(col("file_id"), col("bytes"),
        lit("keep").as("action"), lit(-1L).as("bin"))
    val small = f.filter(col("bytes") < targetBytes)
    val packs =
      if (small.isEmpty) // packShardsByCount needs ≥1 unit (max-id seed)
        small.select(col("file_id"), col("bytes"),
          lit("rewrite").as("action"), lit(-1L).as("bin"))
      else
        graft.operators.Corpus.packShardsByCount(small, col("file_id"),
            col("bytes"), targetBytes)
          .select(col("doc_id").as("file_id"), col("n_tok").as("bytes"),
            lit("rewrite").as("action"), col("shard").as("bin"))
    keeps.unionByName(packs)
  }

  /** CDC MERGE upsert — maintain a LATEST-STATE base table from a keyed
    * update stream (the `MERGE INTO base USING updates WHEN MATCHED THEN
    * UPDATE WHEN NOT MATCHED THEN INSERT` shape every CDC pipeline needs;
    * the sink family was append-only and [[graft.operators.Scd]] builds
    * history — this is the missing mutation op). Semantics: per key, the
    * max-`seqCol` UPDATE row wins; base rows whose key never appears in
    * `updates` pass through unchanged. The standard CDC contract rides
    * along: updates are NEWER than the base state they modify (monotone
    * sequence — a replayed stale update would win here regardless of the
    * base row's seq, because the base row is replaced by key, not raced by
    * seq), and `seqCol` is unique per key within `updates` (the
    * [[graft.operators.LatestPerGroup.latest]] determinism contract).
    * Under that contract the result EQUALS latest-per-key over
    * base ∪ updates — the plain-SQL window the q208 oracle computes.
    *
    * Scale shape — the reason this is not one window over base ∪ updates:
    * the update batch is tiny next to a 100 TB base, so the winners come
    * from a map-side-combined max_by over UPDATES ONLY (the q04 machinery)
    * and the base side is ONE left-anti join against the winner keyset —
    * broadcast when the touched keyset fits (the usual case), so the base
    * is never shuffled, never sorted, and contributes no window state.
    * Output: the merged latest-state frame (survivors ∪ winners).
    */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      seqCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "mergeUpsert needs at least one key column")
    val winners = graft.operators.LatestPerGroup.latest(
      updates, keyCols.map(col), Seq(col(seqCol)))
    base.join(winners.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(winners)
  }

  /** Morton/Z-value of two columns already scaled to `[0, 2^bits)` ints:
    * interleaves their low `bits` bits (a in the even positions, b in the
    * odd), so sorting by the result gives locality in BOTH dimensions —
    * the standard multi-column clustering key (Delta/Iceberg OPTIMIZE
    * ZORDER) that single-column range clustering can't provide. Pure
    * shift/mask arithmetic — codegen'd, and expressible identically in any
    * engine (the q93 oracle mirrors it).
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
      val bbit = shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
      abit.bitwiseOR(bbit)
    }.reduce(_.bitwiseOR(_))
  }

  /** Min/max-scale `c` to an integer in `[0, 2^bits)` given the column's
    * (lo, hi) range (one tiny agg to fetch; constant-width buckets — swap
    * in quantile boundaries for heavily skewed columns).
    */
  def scaleToBits(c: Column, lo: Double, hi: Double, bits: Int = 16): Column = {
    import org.apache.spark.sql.functions.{floor, least, lit}
    val span = hi - lo
    if (span <= 0) lit(0L)
    else least(floor((c.cast("double") - lit(lo)) / lit(span) *
      lit((1L << bits).toDouble - 1.0)), lit((1L << bits) - 1L)).cast("long")
  }

  /** Range-partition `df` into `n` tasks by the Z-VALUE of (colA, colB) —
    * the ONE clustering recipe behind the q225 z-ordered logged table
    * (committed by [[TableLog.overwrite]]) and its spec (one
    * implementation, so a bounds or bit-width change can never diverge the
    * gate from what it tests):
    * both columns' (min, max) come from one tiny agg, each is min/max
    * scaled to `bits`, and the Morton interleaving drives
    * `repartitionByRange` so every output file covers a tight box in BOTH
    * dimensions.
    */
  def zClustered(df: DataFrame, colA: String, colB: String, n: Int,
      bits: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, min}
    val r = df.agg(min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    val z = zValue(
      scaleToBits(col(colA), r.getDouble(0), r.getDouble(1), bits),
      scaleToBits(col(colB), r.getDouble(2), r.getDouble(3), bits), bits)
    df.withColumn("__z", z).repartitionByRange(n, col("__z")).drop("__z")
  }
}
