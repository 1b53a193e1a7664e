package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest COMMIT LOG — the one code path that rewrites, overwrites or
  * exactly-once appends table files (compaction, merge, delete, the
  * streaming sink). This is the protocol core Delta/Iceberg are built on:
  * a table IS the file list reconstructed from its log, and the COMMIT
  * POINT is one atomic publish of `_graft_log/v<N>.manifest` through the
  * [[LogStore]] CAS — readers either see version N complete or not at
  * all, never a half-written directory.
  *
  * What the log buys at 100 TB, concretely:
  *  - ATOMIC maintenance: compaction/merge/delete write NEW files next to
  *    the old ones and publish by committing one manifest — no window where
  *    the directory half-exists, and a crashed rewrite leaves unreferenced
  *    files, never a broken table.
  *  - KEEP-BY-REFERENCE: a compaction's or surgical delete's keep set
  *    changes manifests, not bytes — zero IO for untouched files.
  *  - DELTA-ENCODED COMMITS: each manifest records only the commit's
  *    add/remove ACTIONS, so an append writes O(batch) manifest bytes, not
  *    O(table) — the difference between a streaming sink whose metadata
  *    write grows with every epoch and one that stays flat forever. A full
  *    snapshot is reconstructed by replaying deltas from the nearest
  *    CHECKPOINT (`v<N>.checkpoint`, written every
  *    `spark.graft.log.checkpoint.interval` commits), and the head is
  *    resolved from the `_last_checkpoint` pointer plus a forward probe —
  *    O(commits-since-checkpoint), never an O(versions) directory listing.
  *    This is the Delta log protocol shape (delta JSON commits + parquet
  *    checkpoints + _last_checkpoint).
  *  - PLANNING WITHOUT LISTING: entries carry file SIZE, optional HIVE
  *    PARTITION VALUES and optional PER-FILE (min, max) COLUMN STATS (any
  *    number of integral, string, double, timestamp or date columns), so
  *    scans prune whole files — by partition predicate and/or stat ranges —
  *    before any footer is opened. One decision does it for reads and
  *    deletes alike: [[GraftLogFileIndex]]'s.
  *  - SCHEMA IN THE LOG: every data commit records the table schema
  *    (`#schema:` metadata), so time travel reads each version with the
  *    schema it HAD, additive evolution NULL-fills old files at read time,
  *    and an incompatible append throws [[SchemaEvolutionException]]
  *    instead of corrupting the union.
  *  - TIME TRAVEL + CDF: old versions stay readable
  *    (`read(root, Some(v))`), and [[readChanges]] feeds incremental
  *    consumers exactly what a version range added/removed/changed —
  *    file-level from the deltas (free), row-level via the
  *    [[graft.operators.Snapshots.diff]] machinery when files were
  *    rewritten.
  *  - OPTIMISTIC CONCURRENCY: two writers racing to version N both attempt
  *    the same [[LogStore.writeIfAbsent]]; exactly one wins, the loser gets
  *    a typed [[CommitConflictException]] and must re-plan against the new
  *    head — Delta's conflict protocol, at file granularity.
  *
  * Log file formats (UTF-8, line-oriented):
  *  - `v<N>.manifest` — ONE COMMIT's delta:
  *      `#<key>:<value>`  commit metadata (`#schema:<json>`, `#epoch:<id>`
  *                        — the streaming exactly-once token, committed
  *                        ATOMICALLY with the file actions);
  *      `-\t<path>`       remove the file from the snapshot;
  *      `+\t<path>\t<bytes|?>[\tp:<k>=<v>]…[\ts:<col>=<lo>:<hi>]…`
  *                        add a file (root-relative path, size, hive
  *                        partition values, per-column long stats; `t:`
  *                        typed stats, `r:` row count and `d:` deletion
  *                        vectors ride the same way — see [[Entry]]);
  *      a line with none of those prefixes is tolerated as a legacy bare
  *      add (`path[\tbytes]`).
  *  - `v<N>.checkpoint` — the FULL snapshot at N in add-line form, plus
  *      `#schema:` and `#epochmax:<id>` (the largest epoch committed ≤ N —
  *      what keeps exactly-once recovery O(commits-since-checkpoint) and
  *      safe across [[vacuum]]). Checkpoints are a pure CACHE: deleting one
  *      only forces a longer replay.
  *  - `_last_checkpoint` — the newest checkpoint version (head-resolution
  *      pointer; stale or torn reads fall back to a listing).
  *
  * Data files land under unique `c<uuid>/` dirs per commit (hive
  * `k=v/` subdirs inside for partitioned tables), so concurrent writers
  * never collide on data paths — only on the manifest CAS, which is the
  * point. All metadata IO goes through the [[LogStore]] seam; the default
  * is rename-if-absent (atomic on local/HDFS), and an S3-style store plugs
  * in a conditional-put implementation without touching this protocol.
  *
  * Single-writer-per-stream contract for exactly-once appends: epoch ids of
  * one `appendStream` are committed in increasing order (foreachBatch is
  * sequential), which is what makes `#epochmax` a sound summary; two
  * DIFFERENT streams appending to one table need distinct epoch key spaces
  * (as in Delta's per-appId txn versions).
  */
object TableLog {

  /** The commit CAS was lost: another writer committed the version this
    * writer planned against. Re-read the head and re-plan; for commuting
    * operations (appends) a bounded retry is safe.
    */
  final class CommitConflictException(msg: String)
    extends java.io.IOException(msg)

  /** An append's schema cannot evolve the table's: a column changed type
    * or the change is otherwise non-additive. The commit is REFUSED —
    * nothing was published.
    */
  final class SchemaEvolutionException(msg: String)
    extends IllegalArgumentException(msg)

  /** One snapshot data-file entry. `bytes` is None only for legacy bare
    * lines; `stats` maps column name → (min, max) over the file's non-null
    * values (the data-skipping surface); `partition` carries the file's
    * hive partition values (raw directory-escaped form); `rows` is the
    * file's LIVE row count when known (`r:` token — the metadata-only
    * COUNT surface of [[rowCounts]]); `dvs` lists the file's DELETION
    * VECTORS (`d:` tokens) — sidecar (row_index) sets a reader must
    * anti-join away, stacking across successive [[deleteVectors]] commits
    * until a rewrite materializes them; `tstats` are the TYPED per-file
    * (min, max) stats (`t:` tokens) for non-integral columns — column →
    * (kind, lo, hi) with kind ∈ s (string, code-point order — equals
    * UTF8String's byte order), d (double, IEEE with NaN greatest — Spark's
    * ordering), t (timestamp, epoch micros), D (date, epoch days). String
    * maxima may be PREFIX-TRUNCATED with the last code point rounded UP
    * (recorded max ≥ true max — the soundness rule), minima plain-truncated
    * (recorded min ≤ true min).
    */
  final case class Entry(path: String, bytes: Option[Long],
    stats: Map[String, (Long, Long)] = Map.empty,
    partition: Map[String, String] = Map.empty,
    rows: Option[Long] = None,
    dvs: Seq[String] = Nil,
    tstats: Map[String, (String, String, String)] = Map.empty)

  /** Commits between checkpoints (`v<N>.checkpoint` every N commits).
    * Smaller = cheaper old-version reads, more metadata files; the default
    * 10 mirrors Delta's checkpoint cadence.
    */
  val CheckpointIntervalKey = "spark.graft.log.checkpoint.interval"

  private def checkpointInterval(spark: SparkSession): Int =
    math.max(1, spark.conf.getOption(CheckpointIntervalKey)
      .map(_.toInt).getOrElse(10))

  private def logDir(root: String) = s"$root/_graft_log"
  private def manifestPath(root: String, v: Long) = s"${logDir(root)}/v$v.manifest"
  private def checkpointPath(root: String, v: Long) = s"${logDir(root)}/v$v.checkpoint"
  private def pointerPath(root: String) = s"${logDir(root)}/_last_checkpoint"

  private val ManifestName = "v(\\d+)\\.manifest".r
  private val CheckpointName = "v(\\d+)\\.checkpoint".r

  /** Committed versions, ascending, by LISTING the log dir — the full
    * audit view (in-flight `.tmp` files never appear: only a completed
    * [[LogStore.writeIfAbsent]] publishes a name this matches). Hot paths
    * use [[headVersion]]'s pointer+probe instead; this stays O(listing)
    * by design for time-travel/audit use.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val store = LogStore.resolve(spark)
    store.list(spark, logDir(root)).flatMap {
      case ManifestName(n) => Some(n.toLong)
      case _ => None
    }.sorted
  }

  /** The current head version, resolved WITHOUT a directory listing when
    * the `_last_checkpoint` pointer exists: start at the pointed
    * checkpoint and probe forward while `v<N+1>.manifest` exists —
    * O(commits-since-checkpoint) existence checks. A missing/torn/stale
    * pointer falls back to the listing (the pointer is a cache, never a
    * correctness dependency).
    */
  def headVersion(spark: SparkSession, root: String): Option[Long] = {
    val store = LogStore.resolve(spark)
    readPointer(spark, root, store) match {
      case Some(c) if store.exists(spark, checkpointPath(root, c)) ||
          store.exists(spark, manifestPath(root, c)) =>
        var v = c
        while (store.exists(spark, manifestPath(root, v + 1))) v += 1
        Some(v)
      case _ => versions(spark, root).lastOption
    }
  }

  private def readPointer(spark: SparkSession, root: String,
      store: LogStore): Option[Long] =
    try {
      if (!store.exists(spark, pointerPath(root))) None
      else Some(store.read(spark, pointerPath(root)).trim.toLong)
    } catch { case _: Exception => None }

  // -------------------------------------------------------------------------
  // Delta-file parse/format
  // -------------------------------------------------------------------------

  /** One parsed log file. `legacyReplace`: the file lacks the `#format:2`
    * marker every delta-format writer stamps — an old-format manifest,
    * which WAS a full snapshot, so replay must REPLACE the entry set, not
    * accumulate (treating it as adds would resurrect files an old
    * overwrite or delete dropped; keying on the marker rather than line
    * shapes also classifies a legacy overwrite-to-EMPTY correctly).
    */
  private final case class DeltaFile(meta: Seq[(String, String)],
    removes: Seq[String], adds: Seq[Entry], legacyReplace: Boolean)

  /** Parsed log-file cache: a manifest or checkpoint does not change once
    * published — the [[LogStore.writeIfAbsent]] CAS is its only writer.
    * The same PATH can hold a different file, though: a root deleted and
    * rebuilt at the same path, or a vacuumed version committed again. So
    * an entry is stamped with the file's (length, mtime), taken from the
    * existence probe every read makes anyway (or from the listing
    * [[history]] makes), and served only while the stamp matches; a successful write, vacuum's deletes and a restore
    * also drop entries outright. Engaged ONLY for the default
    * [[HadoopLogStore]] singleton: a plugged store (conflict-injecting
    * test mocks, conditional-put object stores) sees every read exactly
    * as before. Bounded LRU so unbounded distinct roots over a long
    * session cannot pin memory. The tallies are the probe surface for the
    * streaming source's one-parse-per-version claim (a graftlog tail
    * re-walked `(v-1, v]` manifests per micro-batch AND re-replayed the
    * whole delta chain per stream construction — constant at gate scale,
    * a real tax at production commit rates) and for invalidations
    * (dropped entries plus stamp mismatches).
    */
  private[graft] val manifestReadTally =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val manifestCacheHitTally =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val manifestCacheInvalidationTally =
    new java.util.concurrent.atomic.AtomicLong
  private final case class Stamped(len: Long, mtime: Long, delta: DeltaFile)
  private val deltaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Stamped](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Stamped]): Boolean = size() > 8192
    })

  /** The parsed log file at `path`; throws `missing` if there is none.
    * `listed` is its (length, mtime) when the caller has just listed the
    * directory.
    */
  private def readDelta(spark: SparkSession, store: LogStore, path: String,
      missing: => String, listed: Option[(Long, Long)] = None): DeltaFile = {
    def absent: Nothing = throw new IllegalStateException(missing)
    if (!store.eq(HadoopLogStore)) {
      if (!store.exists(spark, path)) absent
      manifestReadTally.incrementAndGet()
      parseDelta(store.read(spark, path))
    } else {
      val (len, mtime) =
        listed.orElse(HadoopLogStore.stat(spark, path)).getOrElse(absent)
      val hit = deltaCache.get(path)
      if (hit != null && hit.len == len && hit.mtime == mtime) {
        manifestCacheHitTally.incrementAndGet(); hit.delta
      } else {
        if (hit != null) manifestCacheInvalidationTally.incrementAndGet()
        manifestReadTally.incrementAndGet()
        val d = parseDelta(store.read(spark, path))
        deltaCache.put(path, Stamped(len, mtime, d))
        d
      }
    }
  }

  private def invalidate(path: String): Unit =
    if (deltaCache.remove(path) != null)
      manifestCacheInvalidationTally.incrementAndGet()

  /** Drop every cached log file under `root`. */
  private def invalidateRoot(root: String): Unit = {
    val prefix = logDir(root) + "/"
    deltaCache.synchronized {
      val it = deltaCache.keySet.iterator
      while (it.hasNext) if (it.next().startsWith(prefix)) {
        it.remove(); manifestCacheInvalidationTally.incrementAndGet()
      }
    }
  }

  private def parseDelta(content: String): DeltaFile = {
    val meta = Seq.newBuilder[(String, String)]
    val removes = Seq.newBuilder[String]
    val adds = Seq.newBuilder[Entry]
    var format2 = false
    content.linesIterator.filter(_.nonEmpty).foreach { l =>
      if (l.startsWith("#")) {
        val i = l.indexOf(':')
        if (i > 1) {
          val kv = (l.substring(1, i), l.substring(i + 1))
          if (kv == ("format", "2")) format2 = true else meta += kv
        }
      } else if (l.startsWith("-\t")) removes += l.substring(2)
      else if (l.startsWith("+\t")) adds += parseAdd(l.split('\t').drop(1))
      else { // legacy bare line: path[\tbytes[\t<ignored stat tokens>]]
        val t = l.split('\t')
        adds += Entry(t(0), t.lift(1).flatMap(b => scala.util.Try(b.toLong).toOption))
      }
    }
    DeltaFile(meta.result(), removes.result(), adds.result(),
      legacyReplace = !format2)
  }

  private def parseAdd(t: Array[String]): Entry = {
    val bytes = t.lift(1).filter(_ != "?").map(_.toLong)
    var part = Map.empty[String, String]
    var stats = Map.empty[String, (Long, Long)]
    var tstats = Map.empty[String, (String, String, String)]
    var rows = Option.empty[Long]
    var dvs = Seq.empty[String]
    t.drop(2).foreach { tok =>
      if (tok.startsWith("p:")) {
        val kv = tok.substring(2); val i = kv.indexOf('=')
        if (i > 0) part += kv.substring(0, i) -> kv.substring(i + 1)
      } else if (tok.startsWith("s:")) {
        val kv = tok.substring(2); val i = kv.indexOf('=')
        if (i > 0) {
          val r = kv.substring(i + 1).split(':')
          if (r.length == 2)
            stats += kv.substring(0, i) -> ((r(0).toLong, r(1).toLong))
        }
      } else if (tok.startsWith("t:")) {
        val kv = tok.substring(2); val i = kv.indexOf('=')
        if (i > 0) {
          // split(-1): an escaped-empty lo/hi must not collapse the arity
          val r = kv.substring(i + 1).split(":", -1)
          if (r.length == 3)
            tstats += kv.substring(0, i) ->
              ((r(0), unescapePath(r(1)), unescapePath(r(2))))
        }
      } else if (tok.startsWith("r:"))
        rows = scala.util.Try(tok.substring(2).toLong).toOption
      else if (tok.startsWith("d:")) dvs :+= tok.substring(2)
    }
    Entry(t(0), bytes, stats, part, rows, dvs, tstats)
  }

  /** Percent-escape a typed stat value for the tab/colon-delimited token
    * layout (reversed by [[unescapePath]] — which decodes ANY %XX, so only
    * the structural bytes need encoding here).
    */
  private def escapeStat(s: String): String = {
    val needs = (c: Char) => c == '%' || c == ':' || c == '\t' ||
      c == '\n' || c == '\r' || c == '=' || c == ','
    if (!s.exists(needs)) s
    else s.flatMap { c =>
      if (needs(c)) c.toInt.toHexString.toUpperCase.reverse.padTo(2, '0')
        .reverse.mkString("%", "", "")
      else c.toString
    }
  }

  private def fmtAdd(e: Entry): String =
    (Seq("+", e.path, e.bytes.map(_.toString).getOrElse("?")) ++
      e.rows.map(n => s"r:$n").toSeq ++
      e.dvs.map(d => s"d:$d") ++
      e.partition.toSeq.sortBy(_._1).map { case (k, v) => s"p:$k=$v" } ++
      e.stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => s"s:$c=$lo:$hi" } ++
      e.tstats.toSeq.sortBy(_._1).map { case (c, (k, lo, hi)) =>
        s"t:$c=$k:${escapeStat(lo)}:${escapeStat(hi)}" })
      .mkString("\t")

  // -------------------------------------------------------------------------
  // Snapshot state (checkpoint base + delta replay)
  // -------------------------------------------------------------------------

  /** Reconstructed snapshot: the file entries, the schema and partition
    * columns recorded at (or carried forward to) this version, and the
    * largest committed epoch id — everything a read, an append or an
    * exactly-once recovery needs. `partCols` comes from `#partcols:`
    * commit metadata (recorded by the partitioned writers, cleared by
    * flat overwrites) so a momentarily-EMPTY partitioned table still
    * knows its layout; legacy states without the meta fall back to the
    * entries' own partition keys.
    */
  private[graft] final case class LogState(version: Long,
    entries: Vector[Entry], schemaJson: Option[String],
    epochMax: Option[Long], partColsMeta: Option[Seq[String]],
    colmapMeta: Option[String] = None)

  /** Newest checkpoint ≤ `v`: pointer fast-path when valid, else one
    * listing. Using an OLDER checkpoint than the newest is always correct
    * (just more deltas to replay), which is what makes the pointer a pure
    * cache.
    */
  private def latestCheckpointAtOrBefore(spark: SparkSession, root: String,
      v: Long, store: LogStore): Option[Long] =
    readPointer(spark, root, store)
      .filter(c => c <= v && store.exists(spark, checkpointPath(root, c)))
      .orElse {
        store.list(spark, logDir(root)).flatMap {
          case CheckpointName(n) if n.toLong <= v => Some(n.toLong)
          case _ => None
        }.sorted.lastOption
      }

  /** Snapshot state at `version` (default head): start from the nearest
    * checkpoint at-or-below (skipped entirely when `useCheckpoint` is
    * false — the full-replay path the q214 gate proves equivalent) and
    * apply each subsequent manifest's delta in order.
    */
  private[graft] def state(spark: SparkSession, root: String,
      version: Option[Long] = None,
      useCheckpoint: Boolean = true): LogState = {
    val store = LogStore.resolve(spark)
    val v = version.getOrElse {
      val h = headVersion(spark, root)
      require(h.nonEmpty, s"no committed versions under $root")
      h.get
    }
    require(store.exists(spark, manifestPath(root, v)) ||
        store.exists(spark, checkpointPath(root, v)),
      s"version $v not committed under $root")
    val cp = if (useCheckpoint)
      latestCheckpointAtOrBefore(spark, root, v, store) else None
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    var schemaJson: Option[String] = None
    var epochMax: Option[Long] = None
    var partColsMeta: Option[Seq[String]] = None
    var colmapMeta: Option[String] = None
    def applyDelta(d: DeltaFile): Unit = {
      if (d.legacyReplace) m.clear() // old-format manifests ARE snapshots
      d.removes.foreach(m.remove)
      d.adds.foreach(e => m.put(e.path, e))
      d.meta.foreach {
        // empty value CLEARS the carried schema (restore to a schemaless
        // version must not inherit the overwritten schema)
        case ("schema", j) => schemaJson = Some(j).filter(_.nonEmpty)
        case ("partcols", v) =>
          partColsMeta = Some(v.split(',').filter(_.nonEmpty).toSeq)
        case ("colmap", v) => colmapMeta = Some(v).filter(_.nonEmpty)
        case ("epoch", id) =>
          epochMax = Some(math.max(epochMax.getOrElse(Long.MinValue), id.toLong))
        case ("epochmax", id) =>
          epochMax = Some(math.max(epochMax.getOrElse(Long.MinValue), id.toLong))
        case _ => ()
      }
    }
    cp.foreach(c => applyDelta(readDelta(spark, store,
      checkpointPath(root, c), s"checkpoint $c vanished under $root")))
    var u = cp.getOrElse(0L) + 1
    while (u <= v) {
      applyDelta(readDelta(spark, store, manifestPath(root, u),
        s"manifest for version $u missing under $root (vacuumed past its " +
          "checkpoint?) — cannot reconstruct the snapshot"))
      u += 1
    }
    LogState(v, m.values.toVector, schemaJson, epochMax, partColsMeta,
      colmapMeta)
  }

  /** The file list of `version` (default: head) — paths only. */
  def manifest(spark: SparkSession, root: String,
      version: Option[Long] = None): Seq[String] =
    manifestEntries(spark, root, version).map(_.path)

  /** SNAPSHOT data-file entries of `version` (default head) — sizes,
    * partition values and per-column stats included. Reconstructed from
    * checkpoint + deltas; the name is historical (pre-delta-log, a
    * manifest WAS the snapshot).
    */
  def manifestEntries(spark: SparkSession, root: String,
      version: Option[Long] = None): Seq[Entry] =
    state(spark, root, version).entries

  /** Raw commit-metadata lines of `version`'s OWN manifest (delta), `#`
    * stripped — e.g. `epoch:<id>`. Unlike [[manifestEntries]] this is the
    * single commit's record, not accumulated state.
    */
  def manifestMeta(spark: SparkSession, root: String,
      version: Option[Long] = None): Seq[String] = {
    val store = LogStore.resolve(spark)
    val v = version.getOrElse {
      val h = headVersion(spark, root)
      require(h.nonEmpty, s"no committed versions under $root")
      h.get
    }
    require(store.exists(spark, manifestPath(root, v)),
      s"version $v not committed under $root")
    store.read(spark, manifestPath(root, v)).linesIterator
      .filter(_.startsWith("#")).map(_.stripPrefix("#")).toSeq
  }

  /** The table schema recorded at `version` (None for pre-schema legacy
    * logs, which fall back to parquet inference on read).
    */
  def schemaOf(spark: SparkSession, root: String,
      version: Option[Long] = None): Option[StructType] =
    state(spark, root, version).schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])

  // -------------------------------------------------------------------------
  // Commit
  // -------------------------------------------------------------------------

  /** Commit `entries` as the FULL SNAPSHOT of version `basedOn + 1` —
    * `basedOn` is the head the writer PLANNED against (0 for an empty
    * table; default: re-read the current head). The delta (adds/removes vs
    * the previous snapshot) is computed here, so even a full-snapshot
    * caller writes only the changed lines. `meta` lines are committed
    * ATOMICALLY with the actions. The [[LogStore.writeIfAbsent]] of the
    * manifest IS the commit point; the loser of a concurrent race gets
    * [[CommitConflictException]] and must re-plan (its snapshot may be
    * stale). Returns the committed version.
    */
  def commit(spark: SparkSession, root: String, entries: Seq[Entry],
      basedOn: Option[Long] = None, meta: Seq[String] = Nil): Long = {
    val head = basedOn.getOrElse(headVersion(spark, root).getOrElse(0L))
    val prev =
      if (head == 0L) Map.empty[String, Entry]
      else state(spark, root, Some(head)).entries.map(e => e.path -> e).toMap
    val newPaths = entries.map(_.path).toSet
    val adds = entries.filter(e => !prev.get(e.path).contains(e))
    // a path whose ENTRY changed in place (same file, new bytes/stats/dvs)
    // commits as remove + re-add — the shape deleteVectors uses — so
    // fileChanges/readAppended/the graftlog source classify the window as
    // a CHANGE, never as an append that would redeliver the whole file as
    // new rows
    val dropped = prev.keys.filterNot(newPaths.contains)
    val replaced = adds.map(_.path).filter(prev.contains)
    val removes = (dropped ++ replaced).toSeq.sorted
    commitDelta(spark, root, adds, removes, Some(head), meta)
  }

  /** Low-level delta commit: record `adds`/`removes` as version
    * `basedOn + 1` (head re-read when None). O(change) manifest bytes —
    * the append/compact/delete fast path. Returns the version.
    */
  private def commitDelta(spark: SparkSession, root: String,
      adds: Seq[Entry], removes: Seq[String], basedOn: Option[Long],
      meta: Seq[String]): Long = {
    val store = LogStore.resolve(spark)
    val next = basedOn.getOrElse(headVersion(spark, root).getOrElse(0L)) + 1L
    val lines = ("#format:2" +: meta.map("#" + _)) ++
      removes.map("-\t" + _) ++ adds.map(fmtAdd)
    if (!store.writeIfAbsent(spark, manifestPath(root, next),
        lines.mkString("", "\n", "\n")))
      throw new CommitConflictException(
        s"commit of version $next lost the race (manifest exists); " +
          "re-plan against the new head and retry")
    invalidate(manifestPath(root, next))
    maybeCheckpoint(spark, root, next, store)
    next
  }

  /** [[commitDelta]] with Delta-style LOGICAL CONFLICT RESOLUTION: when the
    * CAS is lost, re-read the head and RE-COMMIT AUTOMATICALLY iff this
    * writer's action set is disjoint from every intervening commit — a
    * blind append (no removes) always rebases; a delete/compact/DV commit
    * rebases iff none of ITS files (the removes) were touched in between;
    * a true overlap throws the typed [[CommitConflictException]] (the
    * caller's snapshot-derived plan is stale — re-plan). Adds never
    * conflict (data paths are unique per commit dir by construction).
    *
    * `metaFor(base)` is re-evaluated per attempt against the CURRENT base
    * version — what keeps a rebased append's `#schema:` evolution computed
    * against the head it actually lands on (two concurrent appends each
    * adding a different column must both survive in the head schema; a
    * fixed meta would let the rebase clobber the winner's column).
    *
    * Isolation level, stated plainly: this is WRITE-SERIALIZABLE — the
    * rebased commit serializes as if it ran BEFORE the intervening
    * commits it is disjoint from (a delete rebased past a concurrent
    * append does not delete the appended rows, exactly Delta's default
    * WriteSerializable contract).
    */
  /** Diagnostic tally of rebase rounds (lost CAS → re-commit) across the
    * JVM — what the contention probe (ScaleProbe --rebase-law) and the
    * concurrency specs read; never consulted by the protocol itself.
    */
  private[graft] val rebaseTally = new java.util.concurrent.atomic.AtomicLong

  private[graft] def commitDeltaRebasing(spark: SparkSession, root: String,
      adds: Seq[Entry], removes: Seq[String], basedOn: Long,
      metaFor: Long => Seq[String], maxRebases: Int = 20): Long = {
    var base = basedOn
    var attempt = 0
    while (attempt <= maxRebases) {
      try return commitDelta(spark, root, adds, removes, Some(base), metaFor(base))
      catch {
        case e: CommitConflictException =>
          attempt += 1
          rebaseTally.incrementAndGet()
          val newHead = headVersion(spark, root).getOrElse(base)
          if (attempt > maxRebases || newHead <= base) throw e
          val touched = touchedSince(spark, root, base, newHead).getOrElse(
            throw new CommitConflictException(
              s"commit of $root lost the race and cannot rebase: an " +
                "intervening commit is a legacy full-snapshot replace " +
                "(touches everything) — re-plan against the new head"))
          val overlap = removes.toSet intersect touched
          if (overlap.nonEmpty)
            throw new CommitConflictException(
              s"commit of $root lost the race and cannot rebase: " +
                s"intervening commits touched ${overlap.size} of this " +
                s"writer's files (e.g. ${overlap.head}) — re-plan against " +
                s"version $newHead")
          base = newHead
      }
    }
    throw new IllegalStateException("unreachable: rebase loop exited")
  }

  /** Every path the commit window `(vFrom, vTo]` added or removed — the
    * conflict footprint a rebase checks against. None when the window
    * holds a legacy full-snapshot manifest (it touches everything).
    */
  private def touchedSince(spark: SparkSession, root: String, vFrom: Long,
      vTo: Long): Option[Set[String]] = {
    val store = LogStore.resolve(spark)
    val out = Set.newBuilder[String]
    var u = vFrom + 1
    while (u <= vTo) {
      val d = readDelta(spark, store, manifestPath(root, u),
        s"manifest for version $u missing under $root — cannot compute " +
          "the conflict footprint (vacuumed?)")
      if (d.legacyReplace) return None
      out ++= d.removes
      out ++= d.adds.map(_.path)
      u += 1
    }
    Some(out.result())
  }

  /** Write `v<version>.checkpoint` + advance `_last_checkpoint` when the
    * cadence hits. Pure cache: a failed/lost checkpoint write only costs
    * replay length, so errors are logged, never thrown into the commit.
    */
  private def maybeCheckpoint(spark: SparkSession, root: String,
      version: Long, store: LogStore): Unit =
    if (version % checkpointInterval(spark) == 0)
      try writeCheckpoint(spark, root, version, store)
      catch { case e: Exception =>
        org.slf4j.LoggerFactory.getLogger("graft.sources.TableLog")
          .warn(s"checkpoint at $version failed (replay stays correct): $e")
      }

  private def writeCheckpoint(spark: SparkSession, root: String,
      version: Long, store: LogStore): Unit = {
    val st = state(spark, root, Some(version))
    val lines = Seq("#format:2") ++
      st.schemaJson.map("#schema:" + _).toSeq ++
      st.partColsMeta.map(c => "#" + partColsMeta(c)).toSeq ++
      st.colmapMeta.map("#colmap:" + _).toSeq ++
      st.epochMax.map("#epochmax:" + _).toSeq ++
      st.entries.map(fmtAdd)
    if (store.writeIfAbsent(spark, checkpointPath(root, version),
        lines.mkString("", "\n", "\n")))
      invalidate(checkpointPath(root, version))
    if (readPointer(spark, root, store).forall(_ < version))
      store.writeOverwrite(spark, pointerPath(root), version.toString)
  }

  // -------------------------------------------------------------------------
  // Data writes
  // -------------------------------------------------------------------------

  private def newCommitDir(): String =
    s"c${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Write `df`'s rows as new data files under a unique commit dir and
    * return their entries (root-relative path + size) — no manifest is
    * committed yet, so the files are invisible until the caller commits.
    * Non-empty `partCols` writes a HIVE-PARTITIONED layout inside the
    * commit dir (`c<uuid>/k=v/…/part-*.parquet`), and each entry records
    * its partition values (raw directory-escaped form): that is what lets
    * the graftlog index prune partitions from the manifest alone and
    * [[read]] reconstruct the partition columns without path inference.
    */
  def writeData(df: DataFrame, root: String,
      partCols: Seq[String] = Nil): Seq[Entry] = {
    val spark = df.sparkSession
    val sub = newCommitDir()
    (if (partCols.isEmpty) df.write else df.write.partitionBy(partCols: _*))
      .parquet(s"$root/$sub")
    val base = new org.apache.hadoop.fs.Path(s"$root/$sub")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val qBase = fs.makeQualified(base).toString.stripSuffix("/")
    val buf = Seq.newBuilder[Entry]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && name.endsWith(".parquet") && !name.startsWith(".")) {
        val rel = fs.makeQualified(s.getPath).toString.stripPrefix(qBase + "/")
        val segs = rel.split('/').dropRight(1)
        if (!segs.exists(c => c.startsWith("_") || c.startsWith("."))) {
          val part = segs.flatMap { seg =>
            val i = seg.indexOf('=')
            if (i > 0) Some(seg.substring(0, i) -> seg.substring(i + 1)) else None
          }.toMap
          buf += Entry(s"$sub/$rel", Some(s.getLen), Map.empty, part)
        }
      }
    }
    buf.result().sortBy(_.path)
  }

  // -------------------------------------------------------------------------
  // Table operations
  // -------------------------------------------------------------------------

  private def schemaMeta(df: DataFrame): String = "schema:" + df.schema.json

  /** Commit `df` as a full-snapshot REPLACE (the initial write, or an
    * overwrite — the schema is replaced too, no compatibility check). A
    * blind replace depends on no prior state, so it commits against
    * whatever head it finds (last-write-wins). Returns the new version.
    *
    * `partCols` gives the table a hive-partitioned layout (the recorded
    * schema is `df`'s full schema including partition columns; [[read]]
    * reconstructs them from the manifest). `statCols` collects PER-FILE
    * (min, max) STATS into the manifest — data skipping at the PLANNING
    * layer: a later filtered read drops whole files from the plan by
    * comparing the predicate's bounds against manifest stats, before any
    * footer is opened or any task scheduled. At 100 TB this is the layer
    * above parquet min/max skipping (which still costs a footer read per
    * file and a listed directory): one manifest read plans the whole scan.
    * Stats are collected by one aggregation over the just-written
    * (page-cached) files — the real formats fold this into the write
    * itself. Cluster the data on the stat columns first
    * (`repartitionByRange`) or the per-file ranges overlap and nothing
    * skips. Partition columns prune via their manifest values, not stats.
    *
    * NULL semantics: a file whose stat-column values are ALL NULL gets no
    * stats for that column (always read — sound); a mixed file's stats
    * cover its non-null values, still sound because a NULL never satisfies
    * the range predicate the caller re-applies row-level.
    */
  def overwrite(df: DataFrame, root: String, partCols: Seq[String] = Nil,
      statCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val head = headVersion(spark, root).getOrElse(0L)
    val prev = if (head == 0L) Vector.empty
      else state(spark, root, Some(head)).entries
    val files = withStats(spark, root, writeData(df, root, partCols), statCols)
    // a full replace RESETS column mapping: the new files' names ARE the
    // new schema's names (physical = logical again)
    commitDelta(spark, root, files, prev.map(_.path), Some(head),
      Seq("op:overwrite", schemaMeta(df), partColsMeta(partCols.sorted),
        colmapMeta(Map.empty)))
  }

  /** Full-snapshot REPLACE that PRESERVES the table's recorded layout:
    * partition columns and tracked stat columns are re-derived from the
    * current head — the `INSERT OVERWRITE` / writer-Overwrite-on-existing
    * surface, where the caller names no layout because the table already
    * has one. A first write (no head) adopts `df`'s schema, flat.
    */
  def insertOverwrite(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val st = headVersion(spark, root).map(h => state(spark, root, Some(h)))
    val partCols = st.map(partColsOf).getOrElse(Seq.empty)
    require(partCols.forall(df.columns.contains),
      s"overwriting a partitioned table must carry its partition columns " +
        s"($partCols); name a new layout explicitly to change it")
    // tracked stat columns are keyed PHYSICALLY; the overwrite resets the
    // mapping (new files carry the logical names), so re-key to logical
    val rev = st.map(colmapOf).getOrElse(Map.empty).map(_.swap)
    val statCols = st.map(trackedStatCols).getOrElse(Seq.empty)
      .map(p => rev.getOrElse(p, p)).filter(df.columns.contains)
    overwrite(df, root, partCols, statCols)
  }

  /** Commit `df` APPENDED to the current snapshot: the manifest records
    * ONLY the new files — O(batch) metadata, existing data referenced,
    * never rewritten, copied or even re-listed. Commits `basedOn` the head
    * it read, so a concurrent commit surfaces as the CAS conflict.
    *
    * Schema: additive evolution — new columns are recorded in the commit's
    * schema and NULL-fill old files at read time; a column that changed
    * TYPE (or any other non-additive change) throws
    * [[SchemaEvolutionException]] before anything is staged. A batch
    * MISSING existing columns is allowed (its files NULL-fill those
    * columns on read). Appends to a partitioned table automatically land
    * in the table's partition layout.
    *
    * `statCols` opts the batch into PER-FILE stats collection (long +
    * typed manifest stats — the data-skipping surface): without it an
    * append-built table never skips, which at streaming scale means a
    * table that only ever grows less prunable. Appends stay blind (no
    * read of existing data) either way.
    */
  def append(df: DataFrame, root: String, meta: Seq[String] = Nil,
      statCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val head = headVersion(spark, root)
    val st = head.map(h => state(spark, root, Some(h)))
    val partCols = st.map(partColsOf).getOrElse(Seq.empty)
    require(partCols.forall(df.columns.contains),
      s"append to a partitioned table must carry its partition columns " +
        s"($partCols); a flat batch would corrupt the layout")
    // files are staged under PHYSICAL names (uniform with pre-rename
    // files); stats are collected and keyed physically too
    guardRetiredPhysical(st, df)
    val cm = st.map(colmapOf).getOrElse(Map.empty)
    val phys = toPhysical(df, cm)
    val files = withStats(spark, root, writeData(phys, root, partCols),
      statCols.filter(df.columns.contains).map(c => cm.getOrElse(c, c)))
    // blind append: a lost CAS auto-rebases (appends commute at file
    // level); the schema/layout meta is recomputed per attempt against the
    // base the commit actually lands on
    commitDeltaRebasing(spark, root, files, Nil, head.getOrElse(0L),
      base => appendMeta(spark, root, base, df, partCols, meta))
  }

  /** The meta an append commits against `base` — recomputed on every
    * rebase attempt: additive schema evolution against the CURRENT head
    * (two concurrent appends adding different columns must both survive),
    * and a partition-layout re-check (the batch was staged in
    * `stagedPartCols` layout — a table whose layout changed underneath is
    * a true conflict; the files would corrupt the layout).
    */
  private def appendMeta(spark: SparkSession, root: String, base: Long,
      df: DataFrame, stagedPartCols: Seq[String],
      extra: Seq[String]): Seq[String] = {
    val st = if (base == 0L) None else Some(state(spark, root, Some(base)))
    val partNow = st.map(partColsOf).getOrElse(Seq.empty)
    if (partNow != stagedPartCols)
      throw new CommitConflictException(
        s"table partition layout changed under a concurrent append " +
          s"($stagedPartCols -> $partNow) — restage the batch")
    // a FIRST commit via append adopts the batch's schema + flat layout —
    // every data commit records its schema, not just overwrites
    val evolved = st.map(s => evolvedSchema(s, df))
      .getOrElse(Some(df.schema.json))
    val extraMeta = if (st.isEmpty) Seq(partColsMeta(Nil)) else Nil
    Seq("op:append") ++ extra ++ evolved.map("schema:" + _).toSeq ++ extraMeta
  }

  /** Every column the snapshot tracks stats for (long or typed) — what a
    * rewrite (delete/compact) must RE-COLLECT, or it silently degrades
    * skipping on exactly the files it touched.
    */
  private def trackedStatCols(st: LogState): Seq[String] =
    (st.entries.flatMap(_.stats.keys) ++ st.entries.flatMap(_.tstats.keys))
      .distinct.sorted

  private[graft] def partColsOf(st: LogState): Seq[String] =
    st.partColsMeta.getOrElse(
      st.entries.headOption.map(_.partition.keys.toSeq.sorted)
        .getOrElse(Seq.empty))

  private def partColsMeta(cols: Seq[String]): String =
    "partcols:" + cols.mkString(",")

  // -------------------------------------------------------------------------
  // Column mapping (rename as a metadata commit)
  // -------------------------------------------------------------------------

  /** LOGICAL → PHYSICAL column mapping of a snapshot (the Delta
    * column-mapping shape): physical names are what the data FILES and the
    * manifest STATS are keyed by and NEVER change; [[renameColumn]] only
    * repoints the logical name. Identity (no renames) is the empty map.
    */
  private[graft] def colmapOf(st: LogState): Map[String, String] =
    st.colmapMeta.fold(Map.empty[String, String])(_.split(',')
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"malformed colmap token: $kv")
        unescapePath(kv.substring(0, i)) -> unescapePath(kv.substring(i + 1))
      }.toMap)

  private def colmapMeta(m: Map[String, String]): String =
    "colmap:" + m.toSeq.sorted.map { case (l, p) =>
      s"${escapeStat(l)}=${escapeStat(p)}" }.mkString(",")

  /** The PHYSICAL schema (file-side field names) for a logical schema
    * under `cm` — field order, types and metadata unchanged.
    */
  private[graft] def physicalSchema(logical: StructType,
      cm: Map[String, String]): StructType =
    if (cm.isEmpty) logical
    else StructType(logical.map(f => f.copy(name = cm.getOrElse(f.name, f.name))))

  /** Rename a batch's LOGICAL columns to their physical names before the
    * file write — every staged file carries physical names, uniformly
    * with pre-rename files.
    */
  private def toPhysical(df: DataFrame, cm: Map[String, String]): DataFrame =
    if (cm.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      org.apache.spark.sql.functions.col(c).as(cm.getOrElse(c, c))): _*)

  /** Refuse — BEFORE anything is staged — a batch whose new column reuses
    * the retired PHYSICAL name of a renamed column: its physical name
    * would equal that column's file name, making file columns ambiguous.
    */
  private def guardRetiredPhysical(st: Option[LogState],
      df: DataFrame): Unit =
    st.foreach { s =>
      val cm = colmapOf(s)
      if (cm.nonEmpty) {
        val logical = s.schemaJson.map(j => DataType.fromJson(j)
          .asInstanceOf[StructType].fieldNames.toSet).getOrElse(Set.empty)
        val retired = cm.values.toSet -- logical
        df.columns.find(retired.contains).foreach(c =>
          throw new SchemaEvolutionException(
            s"new column $c collides with the physical name of a renamed " +
              "column; pick another name"))
      }
    }

  /** RENAME COLUMN as a METADATA-ONLY commit: no file is touched — the new
    * schema records the logical rename and the column mapping pins the
    * logical name to the column's unchanged PHYSICAL identity (its name in
    * every data file and manifest stat, which is how old files keep
    * pruning after the rename). Time travel reads each version under the
    * mapping recorded AT that version — a pre-rename snapshot shows the
    * old name. Partition columns are not renamable (their values key the
    * directory layout and the manifest partition tokens); neither are
    * collisions with a live logical or physical name (a later ADD of the
    * retired physical name would make file columns ambiguous).
    */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String): Long = {
    val head = headVersion(spark, root)
    require(head.nonEmpty, s"no committed versions under $root")
    val st = state(spark, root, Some(head.get))
    val schema = st.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(
      throw new SchemaEvolutionException(
        s"cannot rename on a legacy table without a recorded schema ($root)"))
    require(schema.fieldNames.contains(oldName),
      s"no column '$oldName' in ${schema.fieldNames.toSeq}")
    require(!schema.fieldNames.contains(newName),
      s"column '$newName' already exists")
    val cm = colmapOf(st)
    require(!partColsOf(st).contains(oldName),
      s"'$oldName' is a partition column — partition columns are not renamable")
    require(!cm.values.toSet.contains(newName) && !cm.contains(newName),
      s"'$newName' collides with a retired physical name")
    val newCm = (cm - oldName) + (newName -> cm.getOrElse(oldName, oldName))
    val newSchema = StructType(schema.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    commitDelta(spark, root, Nil, Nil, Some(head.get),
      Seq("op:rename", "schema:" + newSchema.json, colmapMeta(newCm)))
  }

  /** The schema meta an append should record: None when the table schema
    * already covers the batch; Some(widened json) for additive new
    * columns; throws [[SchemaEvolutionException]] on a type change. A
    * schemaless (legacy) table adopts the batch's schema.
    */
  private def evolvedSchema(st: LogState, df: DataFrame): Option[String] = {
    st.schemaJson match {
      case None => Some(df.schema.json)
      case Some(j) =>
        val old = DataType.fromJson(j).asInstanceOf[StructType]
        val nw = df.schema
        nw.fields.foreach { f =>
          old.find(_.name == f.name).foreach { g =>
            if (g.dataType.catalogString != f.dataType.catalogString)
              throw new SchemaEvolutionException(
                s"column ${f.name} would change type " +
                  s"${g.dataType.catalogString} -> ${f.dataType.catalogString}" +
                  "; only additive evolution is supported")
          }
        }
        // an ADDED column is NULLABLE by definition — files from before it
        // null-fill it; recording the batch's non-nullable primitive as-is
        // would make the vectorized reader refuse old files ("required
        // column is missing") instead of null-filling
        val added = nw.fields.filterNot(f => old.exists(_.name == f.name))
          .map(_.copy(nullable = true))
        // under column mapping a new column's physical name IS its logical
        // name — colliding with a RETIRED physical name would make two
        // logical columns share one file column
        val retired = colmapOf(st).values.toSet
        added.find(f => retired.contains(f.name)).foreach(f =>
          throw new SchemaEvolutionException(
            s"new column ${f.name} collides with the physical name of a " +
              "renamed column; pick another name"))
        if (added.isEmpty) None
        else Some(StructType(old.fields ++ added).json)
    }
  }

  // anchored at a path-segment boundary: an ancestor directory that merely
  // CONTAINS 32 hex chars mid-name must not hijack the match
  private val CommitRelPath = ("(?:^|/)(c[0-9a-f]{32}/.*)$").r

  /** Attach per-file stats for `statCols` to just-written entries. Stats
    * rows come back keyed by the scan's file URI; the root-relative path
    * is recovered by anchoring on the unique commit-dir segment
    * (`c<32hex>/…`) after ONE percent-decode (input_file_name URL-encodes
    * the on-disk name, which is itself hive-escaped — decoding once
    * yields exactly the raw name the entry records). A name-only key
    * would alias the same part-file name written into several partition
    * dirs by one task and merge their ranges (sound but needlessly wide —
    * the whole point of partition-range clustering is tight per-file
    * ranges); the anchored key is exact and the lookup O(1) per file.
    */
  private def withStats(spark: SparkSession, root: String,
      files: Seq[Entry], statCols: Seq[String]): Seq[Entry] =
    if (statCols.isEmpty || files.isEmpty) files
    else {
      val byPath = collectStats(spark, root, files, statCols).flatMap {
        case (uri, m) =>
          CommitRelPath.findFirstMatchIn(unescapePath(uri))
            .map(_.group(1) -> m)
      }
      files.map { e =>
        byPath.get(e.path).fold(e) { case (stats, tstats, n) =>
          e.copy(stats = stats, tstats = tstats, rows = Some(n))
        }
      }
    }

  /** Per-file (min, max) stats of `statCols` + the ROW COUNT for
    * just-written `files`, keyed by the full scan URI. One aggregation
    * over the page-cached files. Columns that are all-NULL within a file
    * yield no entry for that column; a column's stat KIND is dispatched on
    * its scanned type — integrals land in the long `stats` map (the
    * pre-round-15 wire format, unchanged), strings/doubles/timestamps/
    * dates land TYPED in `tstats` (strings prefix-truncated with the
    * round-up soundness rule — see [[truncMax]]); anything else collects
    * no stats (always read — sound).
    */
  private def collectStats(spark: SparkSession, root: String,
      files: Seq[Entry], statCols: Seq[String])
      : Map[String, (Map[String, (Long, Long)],
          Map[String, (String, String, String)], Long)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val scan = spark.read.parquet(files.map(f => s"$root/${f.path}"): _*)
    val kinds: Seq[(String, String)] = statCols.flatMap { c =>
      scan.schema.find(_.name == c).map(_.dataType).collect {
        case ByteType | ShortType | IntegerType | LongType => c -> "l"
        case FloatType | DoubleType => c -> "d"
        case StringType => c -> "s"
        case TimestampType => c -> "t"
        // NTZ collects RAW (LocalDateTime) and converts to epoch micros on
        // the driver — unix_micros is TZ-typed only, and a cast through
        // TimestampType would shift by the session zone
        case TimestampNTZType => c -> "n"
        case DateType => c -> "D"
      }
    }
    def probe(c: String, kind: String): Column = kind match {
      case "l" => col(c).cast("long")
      case "d" => col(c).cast("double")
      case "t" => unix_micros(col(c))
      case "D" => unix_date(col(c))
      // strings aggregate as BINARY (same unsigned-byte order as
      // UTF8String): converting to java.lang.String first would substitute
      // U+FFFD for invalid UTF-8 sequences, silently LOWERING a max — an
      // unsound stat that could skip a file containing matching rows. The
      // decode below keeps the stat only when the bytes round-trip.
      case "s" => col(c).cast("binary")
      case _ => col(c) // "n": NTZ collects raw (see kinds above)
    }
    def ntzMicros(v: Any): Long = {
      val ldt = v.asInstanceOf[java.time.LocalDateTime]
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L
    }
    val aggs = kinds.flatMap { case (c, k) => Seq(
      min(probe(c, k)).as(s"__lo_$c"), max(probe(c, k)).as(s"__hi_$c")) } :+
      count(lit(1)).as("__n")
    val rows = scan.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      var ls = Map.empty[String, (Long, Long)]
      var ts = Map.empty[String, (String, String, String)]
      kinds.zipWithIndex.foreach { case ((c, k), i) =>
        val lo = 1 + 2 * i; val hi = lo + 1
        if (!r.isNullAt(lo) && !r.isNullAt(hi)) k match {
          case "l" => ls += c -> ((r.getLong(lo), r.getLong(hi)))
          case "d" => ts += c ->
            (("d", canonDouble(r.getDouble(lo)), canonDouble(r.getDouble(hi))))
          case "s" =>
            val loB = r.getAs[Array[Byte]](lo); val hiB = r.getAs[Array[Byte]](hi)
            val loS = new String(loB, java.nio.charset.StandardCharsets.UTF_8)
            val hiS = new String(hiB, java.nio.charset.StandardCharsets.UTF_8)
            // keep the stat only when BOTH bounds round-trip UTF-8 — a
            // value that doesn't (binary-ish string) has no faithful
            // java.lang.String form, and recording its damaged image
            // would make file skipping unsound; no stat = always
            // read = sound
            if (java.util.Arrays.equals(
                  loS.getBytes(java.nio.charset.StandardCharsets.UTF_8), loB) &&
                java.util.Arrays.equals(
                  hiS.getBytes(java.nio.charset.StandardCharsets.UTF_8), hiB))
              truncMax(hiS).foreach(mx =>
                ts += c -> (("s", truncMin(loS), mx)))
          case "t" => ts += c ->
            (("t", r.getLong(lo).toString, r.getLong(hi).toString))
          case "n" => ts += c ->
            (("t", ntzMicros(r.get(lo)).toString, ntzMicros(r.get(hi)).toString))
          case "D" => ts += c ->
            (("D", r.getInt(lo).toString, r.getInt(hi).toString))
        }
      }
      r.getString(0) -> ((ls, ts, r.getLong(1 + 2 * kinds.size)))
    }.toMap
  }

  /** Canonical double encoding for typed stats: -0.0 becomes 0.0 — SQL
    * comparisons treat them EQUAL (primitive semantics) while
    * Double.compare orders -0.0 < 0.0, so an uncanonicalized -0.0 stat
    * would let `>= 0.0` prune a file whose -0.0 rows actually match.
    * (NaN is unaffected: NaN != 0.0, and both orders put NaN greatest.)
    */
  private def canonDouble(v: Double): String =
    (if (v == 0.0) 0.0 else v).toString

  /** Code points a string stat keeps before truncation. */
  private[graft] val StatStringMaxCp = 64

  /** A string MIN stat: plain prefix truncation (a prefix is ≤ the value
    * in code-point order, which is UTF8String's byte order — sound).
    */
  private[graft] def truncMin(s: String): String =
    if (s.codePointCount(0, s.length) <= StatStringMaxCp) s
    else s.substring(0, s.offsetByCodePoints(0, StatStringMaxCp))

  /** A string MAX stat: the value itself when short; otherwise the
    * truncated prefix with its last incrementable code point ROUNDED UP
    * (skipping the surrogate gap), which is ≥ every string sharing the
    * prefix — the max must round UP or skipping would drop matching
    * files. None when no upper bound exists (a prefix of all U+10FFFF) —
    * the caller then records no stat for the column (always read, sound).
    */
  private[graft] def truncMax(s: String): Option[String] =
    if (s.codePointCount(0, s.length) <= StatStringMaxCp) Some(s)
    else {
      val cps = s.codePoints().limit(StatStringMaxCp.toLong).toArray
      var i = cps.length - 1
      while (i >= 0) {
        if (cps(i) < 0x10FFFF) {
          val inc = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
          return Some(new String(cps.take(i) :+ inc, 0, i + 1))
        }
        i -= 1
      }
      None
    }

  /** Read the table at `version` (default: newest committed snapshot).
    * The recorded schema drives the read: files from BEFORE an additive
    * column NULL-fill it, partition columns are reconstructed from the
    * manifest's values (typed by the schema), and an empty snapshot is an
    * empty frame with the right schema — no parquet inference, no path
    * inference, no directory listing.
    */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val st = state(spark, root, version)
    readEntrySet(spark, root, st.entries, st.schemaJson, colmap = colmapOf(st))
  }

  /** The TABLE schema an entry set reads under: the recorded one when the
    * log carries it; a legacy (pre-schema) snapshot infers the data schema
    * from footers ONCE with partition columns appended as strings. Shared
    * by [[read]]'s frame builder and [[GraftLog.batchRelation]].
    */
  private[graft] def tableSchemaFor(spark: SparkSession, root: String,
      entries: Seq[Entry], schemaJson: Option[String]): StructType =
    schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse {
        require(entries.nonEmpty,
          "empty snapshot with no recorded schema — nothing to infer from")
        val inferred = spark.read
          .parquet(entries.map(e => s"$root/${e.path}"): _*).schema
        val partCols = entries.head.partition.keys.toSeq.sorted
        StructType(inferred.fields ++ partCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType)))
      }

  /** The scan-side root-relative file key: the anchored commit-dir
    * extraction over `_metadata.file_path` — the SAME expression a
    * [[deleteVectors]] build and a DV-applying read both use, so the
    * anti-join keys match byte-for-byte regardless of URI encoding.
    */
  private[graft] val FileKeyRegex = "(?:^|/)(c[0-9a-f]{32}/.*)$"

  private def fileKeyCol: Column = {
    import org.apache.spark.sql.functions._
    regexp_extract(col("_metadata.file_path"), FileKeyRegex, 1)
  }

  /** Position count above which deletion vectors are applied as the
    * distributed ANTI-JOIN instead of the inline run-set filter: the
    * inline path collects the sidecars to the driver once and ships
    * run-length pairs as plan literals — per-row membership is two binary
    * searches, zero shuffle — which is the right trade up to millions of
    * positions; a 10⁹-row delete keeps the join. The count is read from
    * the sidecars' FOOTERS (row count == position count, O(#sidecars)
    * driver metadata reads, no job), so the decision is exact before
    * anything is collected, and it bounds everything the inline path
    * builds: it collects one row per position and packs at most one run
    * per position (runs compress contiguous deletes — a range delete over
    * clustered data is ONE pair). Sidecar bytes bound nothing: parquet
    * delta/RLE encodes sorted row indexes so densely that 32 MB can decode
    * to hundreds of millions of positions.
    */
  val DvInlineMaxPositionsKey = "spark.graft.dv.inline.maxPositions"

  private def dvInlineMaxPositions(spark: SparkSession): Long =
    spark.conf.getOption(DvInlineMaxPositionsKey).map(_.toLong)
      .getOrElse(1L << 21)

  /** Exact sidecar position count from parquet footer metadata. */
  private def dvPositionCount(spark: SparkSession,
      sidecars: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    sidecars.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** How an entry set of one snapshot reads beyond its bare file
    * relation, decided ONCE when the read is planned: the column
    * mapping's physical → logical aliases, and how the deletion vectors
    * apply — the inline `graft_dv_live` run filter when the sidecars hold
    * at most [[DvInlineMaxPositionsKey]] positions (their runs are
    * collected here, one small job), else the anti-join against the
    * sidecars. [[readEntrySet]] applies it to the frame it builds; a
    * `format("graftlog")` relation carries it on its [[GraftLogFileIndex]]
    * and [[GraftLogReadRewrite]] applies it to each occurrence of that
    * relation at optimization. This is the only code that decides how a
    * snapshot is read.
    */
  private[graft] final class EntryRead private[TableLog] (
      val colmap: Map[String, String], sidecars: Seq[String],
      runs: Option[(Array[String], Array[Long], Array[Long])]) {

    /** No column mapping and no deletion vector: the bare relation is the
      * whole read.
      */
    def isPlain: Boolean = colmap.isEmpty && sidecars.isEmpty

    /** `raw`, a scan of the entry set under PHYSICAL names, read under
      * logical names with every dead row gone. `withPos = true` keeps the
      * `__file`/`__ri` position columns (the [[deleteVectors]] build side).
      */
    def over(raw: DataFrame, withPos: Boolean = false): DataFrame = {
      import org.apache.spark.sql.functions._
      val logical = colmap.map(_.swap)
      val pos =
        if (withPos || sidecars.nonEmpty)
          Seq(fileKeyCol.as("__file"), col("_metadata.row_index").as("__ri"))
        else Nil
      val named = raw.select(raw.columns.toSeq.map(c =>
        col(c).as(logical.getOrElse(c, c))) ++ pos: _*)
      val undeleted = runs match {
        case _ if sidecars.isEmpty => named
        case Some((files, offsets, rs)) =>
          graft.functions.GraftFunctions.register(raw.sparkSession)
          named.filter(call_function("graft_dv_live", col("__file"),
            col("__ri"), lit(files), lit(offsets), lit(rs)))
        case None =>
          // the sidecar side dedups through an Aggregate, not .distinct():
          // GraftLogReadRewrite inserts this plan during operator
          // optimization, after the batch that replaces Distinct has run
          named.join(raw.sparkSession.read.parquet(sidecars: _*)
            .select(col("file").as("__file"), col("ri").as("__ri"))
            .groupBy("__file", "__ri").agg(Map.empty[String, String]),
            Seq("__file", "__ri"), "left_anti")
      }
      if (withPos) undeleted else undeleted.drop("__file", "__ri")
    }
  }

  /** Decide an entry set's [[EntryRead]]. A DV-free entry set costs
    * nothing; one with vectors costs O(#sidecars) footer reads for the
    * exact position count, plus the collect of the runs when they fit
    * inline.
    */
  private[graft] def entryRead(spark: SparkSession, root: String,
      entries: Seq[Entry], colmap: Map[String, String]): EntryRead = {
    val sidecars = entries.flatMap(_.dvs).distinct.map(p => s"$root/$p")
    val inline = sidecars.nonEmpty &&
      dvPositionCount(spark, sidecars) <= dvInlineMaxPositions(spark)
    new EntryRead(colmap, sidecars,
      if (!inline) None
      else Some(dvRuns(spark.read.parquet(sidecars: _*)
        .select("file", "ri").collect())))
  }

  /** Build a frame over an arbitrary entry subset of one snapshot (the
    * shared machinery of [[read]], the deletes' rewrite side and
    * per-version change reads) through its [[EntryRead]]: dead rows of
    * entries carrying DELETION VECTORS are filtered away on (file key,
    * row_index) — zero effect on DV-less snapshots. `withPos = true` keeps
    * the `__file`/`__ri` helper columns in the output (the
    * [[deleteVectors]] build side).
    */
  private[graft] def readEntrySet(spark: SparkSession, root: String,
      entries: Seq[Entry], schemaJson: Option[String],
      withPos: Boolean = false,
      colmap: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    val partCols = entries.headOption.map(_.partition.keys.toSeq.sorted)
      .getOrElse(Seq.empty)
    if (entries.isEmpty) {
      val s = schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(throw new IllegalArgumentException(
          "empty snapshot with no recorded schema — nothing to infer from"))
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      if (!withPos) base
      else base.withColumn("__file", lit(null).cast("string"))
        .withColumn("__ri", lit(null).cast("long"))
    } else {
      val raw =
        if (schemaJson.isEmpty && partCols.isEmpty)
          // legacy (pre-schema) flat table: parquet footer inference
          spark.read.parquet(entries.map(f => s"$root/${f.path}"): _*)
        else {
          require(entries.forall(_.partition.keys.toSeq.sorted == partCols),
            "mixed partition layouts in one snapshot are not readable")
          // ONE manifest-fed relation for the whole entry set — flat or
          // partitioned — via [[GraftLogFileIndex]]: partition values are
          // real partition columns of the scan (typed from the recorded
          // schema), Catalyst prunes partitions and skips on manifest
          // stats inside listFiles, and no directory is ever listed.
          // (Spark's own basePath partition discovery cannot read the
          // commit-dir layout — the walk stops at the first non-k=v
          // segment.) Under COLUMN MAPPING the relation reads the files'
          // PHYSICAL names and the EntryRead aliases them back — Catalyst
          // pushes filters straight through the alias, so stats keyed by
          // physical name keep skipping after any number of renames.
          val physSchema = physicalSchema(
            tableSchemaFor(spark, root, entries, schemaJson), colmap)
          spark.baseRelationToDataFrame(GraftLog.relation(spark, root,
            entries, physSchema, partCols.filter(physSchema.fieldNames.contains)))
        }
      entryRead(spark, root, entries, colmap).over(raw, withPos)
    }
  }

  /** Pack collected (file, ri) positions into the [[graft.functions.DvLive]]
    * literal triple: sorted file keys, per-file run-pair offsets, flat
    * [start, endExclusive) runs (adjacent row indexes coalesce).
    */
  private def dvRuns(rows: Array[Row])
      : (Array[String], Array[Long], Array[Long]) = {
    val byFile = rows.groupBy(_.getString(0)).toArray.sortBy(_._1)(
      // UTF8 byte order — the same order DvLive's binary search uses
      Ordering.comparatorToOrdering(
        (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))))
    val files = byFile.map(_._1)
    val offsets = new Array[Long](files.length + 1)
    val runs = Array.newBuilder[Long]
    var pairs = 0L
    byFile.zipWithIndex.foreach { case ((_, rs), i) =>
      offsets(i) = pairs
      val ris = rs.map(_.getLong(1)).distinct.sorted
      var j = 0
      while (j < ris.length) {
        val start = ris(j)
        var end = start + 1
        while (j + 1 < ris.length && ris(j + 1) == end) { j += 1; end += 1 }
        runs += start; runs += end
        pairs += 1
        j += 1
      }
    }
    offsets(files.length) = pairs
    (files, offsets, runs.result())
  }

  /** Decode %XX escaping (hive partition values, URI paths). Consecutive
    * escaped octets decode as UTF-8 BYTES, not chars — %C3%A9 is 'é', not
    * 'Ã©' — or a non-ASCII partition value would round-trip wrong.
    */
  private[graft] def unescapePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder
      val buf = new java.io.ByteArrayOutputStream()
      def flush(): Unit = if (buf.size() > 0) {
        sb.append(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
        buf.reset()
      }
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 &&
            Character.digit(s.charAt(i + 2), 16) >= 0) {
          buf.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } else { flush(); sb.append(s.charAt(i)); i += 1 }
      }
      flush()
      sb.toString
    }

  /** METADATA-ONLY COUNT of `version` (default head): the sum of the
    * manifest's per-file `r:` row counts — zero data IO when every entry
    * carries one (every stats-collecting writer does); entries missing a
    * count (plain [[overwrite]]/[[append]], which never scan what they
    * write) are counted by scanning JUST those files — the hybrid never
    * reads a counted file. At 100 TB this answers `COUNT(*)` and
    * per-partition row accounting from one manifest read, the
    * Delta-numRecords/Iceberg-snapshot-summary surface. `partitionEq`
    * scopes the count to matching partitions (unescaped comparison).
    */
  def rowCounts(spark: SparkSession, root: String,
      version: Option[Long] = None,
      partitionEq: Map[String, String] = Map.empty): Long = {
    val st = state(spark, root, version)
    // unlike file skipping (whose superset is sound because the reader
    // re-filters rows), this count IS the answer — an unknown key must be
    // an error, never a silent full-table count
    val known = partColsOf(st).toSet
    partitionEq.keys.foreach(k => require(known.contains(k),
      s"$k is not a partition column of this table (has: $known)"))
    val scoped = st.entries.filter(e => partitionEq.forall { case (k, v) =>
      e.partition.get(k).exists(unescapePath(_) == v) })
    val (counted, uncounted) = scoped.partition(_.rows.nonEmpty)
    val scanned =
      if (uncounted.isEmpty) 0L
      else readEntrySet(spark, root, uncounted, st.schemaJson, colmap = colmapOf(st)).count()
    counted.flatMap(_.rows).sum + scanned
  }

  /** Per-partition row counts of `version` (default head) as a frame —
    * GROUP BY partition answered from the manifest (driver-side,
    * manifest-sized) plus a scan of only the count-less files. Output:
    * one row per distinct partition value, columns = partition columns
    * (unescaped strings, NULL for the hive default partition) + `n_rows`.
    */
  def partitionRowCounts(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val st = state(spark, root, version)
    import org.apache.spark.sql.functions._
    val partCols = partColsOf(st)
    require(partCols.nonEmpty, "partitionRowCounts needs a partitioned table")
    val (counted, uncounted) = st.entries.partition(_.rows.nonEmpty)
    val metaCounts = counted
      .groupBy(_.partition)
      .map { case (p, es) =>
        (partCols.map(k => p.get(k).filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
          .map(unescapePath).orNull), es.flatMap(_.rows).sum)
      }.toSeq
    val metaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(metaCounts.map { case (ks, n) =>
        Row.fromSeq(ks :+ n) }, 1),
      StructType(partCols.map(k =>
        org.apache.spark.sql.types.StructField(k,
          org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType)))
    val scannedDf =
      if (uncounted.isEmpty) metaDf.limit(0)
      else readEntrySet(spark, root, uncounted, st.schemaJson, colmap = colmapOf(st))
        .groupBy(partCols.map(c => col(c).cast("string").as(c)): _*)
        .agg(count(lit(1)).as("n_rows"))
    metaDf.unionByName(scannedDf)
      .groupBy(partCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"))
  }

  // -------------------------------------------------------------------------
  // Row-level delete (stats-triaged)
  // -------------------------------------------------------------------------

  /** The entries of `st` a `predicate` can touch — the triage of
    * [[delete]] and [[deleteVectors]]. The predicate's filtered read is
    * planned, and its graftlog scan's index lists the files for the scan's
    * own partition/data filter split ([[GraftLogFileIndex.plannedEntries]]),
    * so a delete skips exactly the files a read of the same predicate
    * skips. Filter pushdown through the column-mapping alias already
    * yields physical names. A plan with no graftlog scan touches every
    * entry (sound). Keeps `st.entries` order.
    */
  private[graft] def touchedBy(spark: SparkSession, root: String, st: LogState,
      predicate: Column): Vector[Entry] = {
    val read = readEntrySet(spark, root, st.entries, st.schemaJson,
      colmap = colmapOf(st)).filter(predicate)
    GraftLogFileIndex.plannedEntries(read).fold(st.entries) { planned =>
      val paths = planned.map(_.path).toSet
      st.entries.filter(e => paths(e.path))
    }
  }

  /** Row-level DELETE of rows matching an arbitrary `predicate` — the
    * compliance/forget path, made SURGICAL by the manifest: every file the
    * predicate's read would skip ([[touchedBy]] — partition predicates
    * evaluated on the typed partition values, derivable per-column bounds
    * like `c >= v`, `c = v`, `c BETWEEN lo AND hi` matched against the
    * stats) is kept BY REFERENCE — same entry, stats intact, zero IO. Only
    * the possibly-intersecting files (plus stats-less ones, which might
    * hold anything) are read, filtered to `NOT coalesce(predicate, false)` —
    * NULL-predicate rows are KEPT, SQL delete semantics — and rewritten
    * with fresh stats on every column the table tracks. A predicate with
    * no derivable bounds (e.g. pure `c % 7 = 0`) degrades to a full
    * rewrite, never to a wrong answer. One atomic manifest commit
    * publishes the deletion; partitioned tables rewrite in their layout.
    *
    * COMPLIANCE CAVEAT, stated loudly: old snapshots keep the rows until
    * [[vacuum]] ages them out — a real forget pipeline is delete + vacuum
    * past the retention horizon, exactly Delta's DELETE+VACUUM contract.
    *
    * Returns the new version.
    */
  def delete(spark: SparkSession, root: String, predicate: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val head = headVersion(spark, root)
    require(head.nonEmpty, s"no committed versions under $root")
    val st = state(spark, root, Some(head.get))
    val touched = touchedBy(spark, root, st, predicate)
    val cm = colmapOf(st)
    val rewritten =
      if (touched.isEmpty) Seq.empty
      else {
        val survivors = toPhysical(
          readEntrySet(spark, root, touched, st.schemaJson, colmap = cm)
            .filter(not(coalesce(predicate, lit(false)))), cm)
        withStats(spark, root, writeData(survivors, root, partColsOf(st)),
          trackedStatCols(st))
      }
    // untouched entries ride along implicitly: only the delta is logged.
    // A lost CAS rebases iff no intervening commit touched the files this
    // delete rewrote (WriteSerializable: a concurrent append's rows are
    // NOT deleted — the rebased delete serializes before it).
    commitDeltaRebasing(spark, root, rewritten, touched.map(_.path),
      head.get, _ => Seq("op:delete"))
  }

  /** Row-level DELETE with ZERO data rewrite — DELETION VECTORS (the
    * Delta DV / Iceberg positional-delete shape): instead of rewriting
    * the files holding matching rows, the matching (file, row_index)
    * positions are written as ONE small sidecar parquet and referenced
    * from the touched entries (`d:` tokens); every reader anti-joins the
    * vectors away. Same triage as [[delete]] ([[touchedBy]] keeps
    * provably-clean files untouched), and files whose EVERY
    * row matches are dropped outright (no vector needed). Per-entry live
    * row counts are adjusted from the vector build itself, so
    * [[rowCounts]] stays metadata-only; min/max stats stay (a delete can
    * only shrink the true range — sound, possibly wider than tight until
    * a rewrite re-collects). A later [[compact]]/[[delete]] rewrite
    * MATERIALIZES the vectors (readers of the rewritten files see no
    * `d:` tokens). Touched entries commit as remove + re-add of the same
    * path, so change-window detection ([[fileChanges]]) reports them in
    * BOTH lists — an append tail can never mistake a DV commit for new
    * rows. At 100 TB this is the forget path when even a surgical
    * rewrite is too much IO: one scan of the triaged files, one sidecar
    * write, one manifest commit — the deleted bytes stay until the next
    * natural rewrite + [[vacuum]], exactly the production DV trade.
    * Returns the new version.
    */
  def deleteVectors(spark: SparkSession, root: String,
      predicate: Column): Long = {
    import org.apache.spark.sql.functions._
    val head = headVersion(spark, root)
    require(head.nonEmpty, s"no committed versions under $root")
    val st = state(spark, root, Some(head.get))
    val touched = touchedBy(spark, root, st, predicate)
    if (touched.isEmpty)
      return commitDeltaRebasing(spark, root, Nil, Nil, head.get,
        _ => Seq("op:delete"))
    // matching positions of the triaged files — the vector content. The
    // existing dvs of those files are applied FIRST (readEntrySet), so an
    // already-deleted row is never re-counted
    val matches = readEntrySet(spark, root, touched, st.schemaJson,
        withPos = true, colmap = colmapOf(st))
      .filter(coalesce(predicate, lit(false)))
      .select(col("__file").as("file"), col("__ri").as("ri"))
      .localCheckpoint()
    // scan keys are URI-encoded (the on-disk hive-escaped name, percent-
    // encoded once more by the file_path URI); decode ONCE — the same
    // normalization withStats applies — so the lookup matches Entry.path
    // on partitioned tables whose values need escaping (space, ':', '%').
    // The SIDECAR keeps the encoded key: the read-side anti-join compares
    // it against the same fileKeyCol extraction, byte-for-byte.
    val perFile = matches.groupBy(col("file"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => unescapePath(r.getString(0)) -> r.getLong(1)).toMap
    val dvEntries =
      if (perFile.isEmpty) Nil
      else writeData(matches.coalesce(1), root)
    val dvPath = dvEntries.map(_.path)
    val updated = touched.flatMap { e =>
      perFile.get(e.path) match {
        case None => None // predicate matched nothing in this file
        case Some(n) =>
          val live = e.rows.map(_ - n)
          if (live.contains(0L)) Some(e -> None) // fully dead: drop entry
          else Some(e -> Some(e.copy(rows = live, dvs = e.dvs ++ dvPath)))
      }
    }
    val adds = updated.flatMap(_._2)
    val removes = updated.map(_._1.path)
    commitDeltaRebasing(spark, root, adds, removes, head.get,
      _ => Seq("op:delete"))
  }

  /** [[delete]] of `statCol ∈ [lo, hi]` — the range form whose triage is
    * exact when the table is range-clustered on the column: a forget
    * request rewrites a handful of files, not the table.
    */
  def deleteRange(spark: SparkSession, root: String, lo: Long, hi: Long,
      statCol: String): Long = {
    import org.apache.spark.sql.functions.col
    delete(spark, root, col(statCol).cast("long").between(lo, hi))
  }

  /** Conservative per-column bounds implied by a predicate: every MATCHING
    * row must have `col ∈ [lo, hi]` (open sides = None) in the order of
    * the bound's KIND — `l` (integral, compared against [[Entry.stats]])
    * or a [[Entry.tstats]] kind: `s` string, `d` double, `t` timestamp,
    * `D` date, values in the same canonical encoding as the stats (long
    * and string raw, double via Double.toString, timestamp epoch micros,
    * date epoch days). AND intersects, OR hulls (a column unbounded on
    * either branch drops out), kind mismatches drop the column, anything
    * unrecognized contributes nothing — the result is always a SUPERSET of
    * the matching region, which is what makes file skipping sound.
    */
  private[graft] def predicateBounds(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Map[String, (String, Option[String], Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types.{ByteType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, TimestampNTZType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    type B = (String, Option[String], Option[String])
    def width(t: org.apache.spark.sql.types.DataType): Option[Int] = t match {
      case ByteType => Some(1); case ShortType => Some(2)
      case IntegerType => Some(4); case LongType => Some(8)
      case _ => None
    }
    // a cast of the ATTRIBUTE is transparent only when WIDENING — a
    // narrowing cast wraps values (cast(a as int) = 5 also matches
    // a = 2^32+5), so seeing through it would keep files that hold
    // matching rows. Unknown child type (unresolved attr) admits only
    // cast-to-long: every integral source widens into long.
    def attrOf(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case c: Cast =>
        val childW = if (c.child.resolved) width(c.child.dataType) else None
        val wide = (width(c.dataType), childW) match {
          case (Some(t), Some(s)) => t >= s
          // to-long of an UNRESOLVED child: any integral source widens.
          // A RESOLVED non-integral child (string, double) must stay
          // opaque — its cast-to-long order does not match the collected
          // stats' order (lexicographic "9" > "10" but 9 < 10)
          case (Some(8), None) if !c.child.resolved => true
          case _ => false
        }
        if (wide) attrOf(c.child) else None
      case _ => None
    }
    // an integral LITERAL's cast is transparent only when the value
    // survives the cast (the analyzer only emits widening literal casts,
    // but a hand-built narrowing cast must not leak the uncast value)
    def longOf(x: Expression): Option[Long] = x match {
      case Literal(v, LongType) => Some(v.asInstanceOf[Long])
      case Literal(v, IntegerType) => Some(v.asInstanceOf[Int].toLong)
      case Literal(v, ShortType) => Some(v.asInstanceOf[Short].toLong)
      case Literal(v, ByteType) => Some(v.asInstanceOf[Byte].toLong)
      case c: Cast => for {
        v <- longOf(c.child)
        w <- width(c.dataType)
        if w == 8 ||
          (v >= -(1L << (8 * w - 1)) && v <= (1L << (8 * w - 1)) - 1)
      } yield v
      case _ => None
    }
    // any other FOLDABLE value of a typed kind contributes — an analyzed
    // (not yet constant-folded) predicate still carries
    // cast('1997-01-01' as timestamp) / to_timestamp(...) shapes
    def typedOf(x: Expression): Option[(String, String)] =
      if (!x.resolved || !x.foldable) None
      else (scala.util.Try(x.eval()).getOrElse(null), x.dataType) match {
        case (null, _) => None
        case (v: UTF8String, StringType) => Some(("s", v.toString))
        // -0.0 canonicalizes to 0.0 on BOTH sides (stats and bounds) so
        // the Double.compare order never disagrees with SQL's == at zero
        case (v, DoubleType) => Some(("d", canonDouble(v.asInstanceOf[Double])))
        case (v, FloatType) =>
          Some(("d", canonDouble(v.asInstanceOf[Float].toDouble)))
        // NTZ values carry epoch micros too — same kind, same order
        case (v, TimestampType | TimestampNTZType) => Some(("t", v.toString))
        case (v, DateType) => Some(("D", v.toString))
        case _ => None
      }
    def litOf(x: Expression): Option[(String, String)] =
      longOf(x).map(v => ("l", v.toString)).orElse(typedOf(x))
    def cmp(l: Expression, r: Expression, attrLo: Boolean,
        attrHi: Boolean): Map[String, B] = {
      def bound(k: String, v: String, lo: Boolean, hi: Boolean): B =
        (k, Some(v).filter(_ => lo), Some(v).filter(_ => hi))
      (attrOf(l), litOf(r), attrOf(r), litOf(l)) match {
        case (Some(n), Some((k, v)), _, _) => Map(n -> bound(k, v, attrLo, attrHi))
        // literal first: the comparison mirrors
        case (_, _, Some(n), Some((k, v))) => Map(n -> bound(k, v, attrHi, attrLo))
        case _ => Map.empty
      }
    }
    def pick(k: String, a: Option[String], b: Option[String],
        takeMax: Boolean): Option[String] = (a, b) match {
      case (Some(x), Some(y)) =>
        Some(if ((typedCompare(k, x, y) >= 0) == takeMax) x else y)
      case _ => a.orElse(b)
    }
    def intersect(a: Map[String, B], b: Map[String, B]): Map[String, B] =
      (a.keySet ++ b.keySet).flatMap { key =>
        (a.get(key), b.get(key)) match {
          case (Some((ka, alo, ahi)), Some((kb, blo, bhi))) =>
            if (ka != kb) None // mismatched kinds: drop the column
            else Some(key -> ((ka, pick(ka, alo, blo, takeMax = true),
              pick(ka, ahi, bhi, takeMax = false))))
          case (x, y) => x.orElse(y).map(key -> _)
        }
      }.toMap
    def hull(a: Map[String, B], b: Map[String, B]): Map[String, B] =
      (a.keySet intersect b.keySet).flatMap { key =>
        val (ka, alo, ahi) = a(key); val (kb, blo, bhi) = b(key)
        def widest(x: Option[String], y: Option[String], takeMax: Boolean) =
          if (x.isEmpty || y.isEmpty) None else pick(ka, x, y, takeMax)
        if (ka != kb) None
        else {
          val lo = widest(alo, blo, takeMax = false)
          val hi = widest(ahi, bhi, takeMax = true)
          if (lo.isEmpty && hi.isEmpty) None else Some(key -> ((ka, lo, hi)))
        }
      }.toMap
    e match {
      case And(l, r) => intersect(predicateBounds(l), predicateBounds(r))
      case Or(l, r) => hull(predicateBounds(l), predicateBounds(r))
      case GreaterThan(l, r) => cmp(l, r, attrLo = true, attrHi = false)
      case GreaterThanOrEqual(l, r) => cmp(l, r, attrLo = true, attrHi = false)
      case LessThan(l, r) => cmp(l, r, attrLo = false, attrHi = true)
      case LessThanOrEqual(l, r) => cmp(l, r, attrLo = false, attrHi = true)
      case EqualTo(l, r) => cmp(l, r, attrLo = true, attrHi = true)
      case _ => Map.empty
    }
  }

  /** Order two typed stat values of `kind` — the SAME order the stats were
    * collected under: strings byte-wise as UTF-8 (code-point order, what
    * Spark's min/max over UTF8String uses — NOT Java String.compareTo,
    * which diverges above the BMP), doubles IEEE with NaN greatest
    * (Spark's ordering), integrals (`l`), timestamps and dates as longs.
    */
  private[graft] def typedCompare(kind: String, a: String, b: String): Int =
    kind match {
      case "s" => org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      case "d" => java.lang.Double.compare(a.toDouble, b.toDouble)
      case _ => java.lang.Long.compare(a.toLong, b.toLong)
    }

  // -------------------------------------------------------------------------
  // Compaction / merge / CDF
  // -------------------------------------------------------------------------

  /** Log-published compaction: files already ≥ `targetBytes` are kept BY
    * REFERENCE (untouched entries — zero IO and zero manifest lines under
    * delta encoding), the small tail is read once and rewritten into
    * ~target-sized files, and the swap is one manifest commit — a reader
    * mid-scan on the old version is untouched. Sizes come FROM the
    * manifest (legacy bare entries fall back to one status call each).
    * Kept entries retain their stats; rewritten files get FRESH stats on
    * every column the table tracks (their ranges changed — without
    * re-collection a compaction would silently degrade skipping on
    * exactly the files it touched). Partitioned tables rewrite into
    * their layout.
    *
    * `clusterBy`: range-partition the rewrite on these columns instead of
    * hash-scattering it, so each rewritten file covers a TIGHT range and
    * the re-collected manifest stats actually skip — the OPTIMIZE-with-
    * clustering form (compose with [[Warehouse.zValue]] for 2-d boxes).
    * A hash-scattered rewrite of range-clustered input would widen every
    * file's range to the whole domain and quietly turn skipping off.
    * Returns the version.
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long,
      clusterBy: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val head = headVersion(spark, root)
    require(head.nonEmpty, s"no committed versions under $root")
    val st = state(spark, root, Some(head.get))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sized = st.entries.map(e => e.copy(bytes = e.bytes.orElse(
      Some(fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$root/${e.path}")).getLen))))
    val (_, smalls) = sized.partition(_.bytes.get >= targetBytes)
    val newFiles =
      if (smalls.isEmpty) Seq.empty
      else {
        val totalSmall = smalls.map(_.bytes.get).sum
        val nBins = math.max(1L,
          (totalSmall + targetBytes - 1) / targetBytes).toInt
        import org.apache.spark.sql.functions.col
        val small = readEntrySet(spark, root, smalls, st.schemaJson, colmap = colmapOf(st))
        val df = toPhysical(
          if (clusterBy.isEmpty) small.repartition(nBins)
          else small.repartitionByRange(nBins, clusterBy.map(col): _*),
          colmapOf(st))
        withStats(spark, root, writeData(df, root, partColsOf(st)),
          trackedStatCols(st))
      }
    // a lost CAS rebases iff nothing touched the compacted smalls —
    // concurrent appends land untouched next to the compaction
    commitDeltaRebasing(spark, root, newFiles, smalls.map(_.path),
      head.get, _ => Seq("op:compact"))
  }

  /** Log-published CDC MERGE: read the current snapshot, apply
    * [[Warehouse.mergeUpsert]], commit the merged state as a new version —
    * the atomic form of the in-place partitioned merge (the old snapshot
    * is immutable, so no materialization barrier is needed). Returns the
    * new version.
    */
  def mergeUpsert(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], seqCol: String): Long = {
    val head = headVersion(spark, root)
    require(head.nonEmpty, s"no committed versions under $root")
    val st = state(spark, root, Some(head.get))
    val merged = Warehouse.mergeUpsert(
      readEntrySet(spark, root, st.entries, st.schemaJson, colmap = colmapOf(st)),
      updates, keyCols, seqCol)
    val files = writeData(toPhysical(merged, colmapOf(st)), root, partColsOf(st))
    commitDelta(spark, root, files, st.entries.map(_.path), Some(head.get),
      Seq("op:merge", schemaMeta(merged)))
  }

  /** ROLL BACK the table to `version`'s snapshot as a NEW commit (Delta
    * RESTORE): the head becomes byte-identical to the old version by
    * REFERENCING its files — zero data IO, one delta manifest (removes =
    * files added since, adds = files dropped since), and history is
    * preserved (the bad versions stay readable until [[vacuum]]; nothing
    * is rewritten or lost — the un-do is itself an audited, revertible
    * commit). The restored schema and partition layout are restated so
    * reads of the new head see exactly what `version` saw. Requires the
    * old version's files to still exist (not vacuumed). Returns the new
    * version.
    */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    // a rollback reads back as far as `version`: take every log file it
    // reads from the store, not from entries parsed before this call
    invalidateRoot(root)
    val head = headVersion(spark, root)
    require(head.nonEmpty, s"no committed versions under $root")
    val target = state(spark, root, Some(version))
    val cur = state(spark, root, Some(head.get))
    val targetPaths = target.entries.map(_.path).toSet
    val curByPath = cur.entries.map(e => e.path -> e).toMap
    val adds = target.entries.filter(e => !curByPath.get(e.path).contains(e))
    // the commit() remove+re-add invariant holds here too: a path whose
    // ENTRY changes in place (e.g. restoring past a DV commit strips the
    // d: tokens) must show in BOTH change lists, or fileChanges would
    // classify the restore as an append and a tail would redeliver the
    // whole file's rows as new data
    val dropped = cur.entries.map(_.path).filterNot(targetPaths.contains)
    val replaced = adds.map(_.path).filter(curByPath.contains)
    val removes = (dropped ++ replaced).sorted
    commitDelta(spark, root, adds, removes, Some(head.get),
      Seq("op:restore",
        "schema:" + target.schemaJson.getOrElse(""), // empty = clear
        partColsMeta(partColsOf(target)),
        colmapMeta(colmapOf(target)))) // restore the target's mapping too
  }

  /** NET file-level changes over `(vFrom, vTo]`, straight from the delta
    * manifests — O(commits-in-window) metadata reads, zero data IO, zero
    * snapshot reconstruction. A file added then removed inside the window
    * nets out (it never survived); a file REPLACED in place (removed then
    * re-added — a [[deleteVectors]] commit's shape) appears in BOTH lists,
    * so an append-only test (`removes.isEmpty`) can never mistake a
    * change window for new data. Returns (added entries, removed paths).
    * Throws if a manifest in the window was vacuumed.
    */
  def fileChanges(spark: SparkSession, root: String, vFrom: Long,
      vTo: Long): (Seq[Entry], Seq[String]) = {
    require(vFrom <= vTo, s"fileChanges window inverted: $vFrom > $vTo")
    val store = LogStore.resolve(spark)
    val added = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    val removed = scala.collection.mutable.LinkedHashSet.empty[String]
    var u = vFrom + 1
    while (u <= vTo) {
      val d = readDelta(spark, store, manifestPath(root, u),
        s"manifest for version $u missing under $root — file-level " +
          "changes need the delta chain (vacuumed?)")
      if (d.legacyReplace)
        throw new IllegalStateException(
          s"version $u of $root is a legacy full-snapshot manifest — it " +
            "REPLACES the table and is not expressible as a file-level " +
            "delta (treating its adds as changes would redeliver carried-" +
            "over files); read the snapshot instead")
      d.removes.foreach { p =>
        if (added.remove(p).isEmpty) removed += p
      }
      d.adds.foreach(e => added.put(e.path, e))
      u += 1
    }
    (added.values.toSeq, removed.toSeq)
  }

  /** The APPENDED ROWS of `(vFrom, vTo]` — the incremental-consume read:
    * exactly the rows the window's committed appends added, read from the
    * net-added files only (the base table is never scanned or listed),
    * with the schema at `vTo` (old-schema batches NULL-fill additive
    * columns). Throws if the window is not append-only — a rewrite inside
    * it means "what was added" is no longer a file-level question; use
    * [[readChanges]] there.
    */
  def readAppended(spark: SparkSession, root: String, vFrom: Long,
      vTo: Long): DataFrame = {
    val (adds, removes) = fileChanges(spark, root, vFrom, vTo)
    require(removes.isEmpty,
      s"window ($vFrom, $vTo] contains removes — not an append-only window")
    val st = state(spark, root, Some(vTo))
    if (adds.isEmpty)
      readEntrySet(spark, root, st.entries, st.schemaJson, colmap = colmapOf(st)).limit(0)
    else readEntrySet(spark, root, adds, st.schemaJson, colmap = colmapOf(st))
  }

  /** CHANGE-DATA-FEED read over `(vFrom, vTo]`: every row-level change an
    * incremental consumer must process, as (doc_id, status) with status ∈
    * {added, removed, changed} — `unchanged` rows are never emitted
    * (that's the point of a CDF). Two plans, picked from the file-level
    * delta:
    *  - APPEND-ONLY window (no files removed — the streaming-ingest
    *    common case): the changes are exactly the rows of the added files,
    *    read directly — O(new data), the base table is never scanned.
    *    Sound when appended ids are new (the CDC append contract).
    *  - files were rewritten (delete/compact/merge/overwrite): full
    *    snapshot diff via [[graft.operators.Snapshots.diff]] — both sides
    *    reduce to (id, content-hash) on the scan, one full-outer join.
    * `idCol`/`payloadCol` define row identity and change detection, as in
    * Snapshots.diff.
    */
  def readChanges(spark: SparkSession, root: String, vFrom: Long, vTo: Long,
      idCol: Column, payloadCol: Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val (adds, removes) = fileChanges(spark, root, vFrom, vTo)
    // vFrom = 0 is "since inception": the old side is an empty snapshot
    // (version 0 is never committed, so read(Some(0)) would throw)
    def oldSide = if (vFrom == 0L) read(spark, root, Some(vTo)).limit(0)
      else read(spark, root, Some(vFrom))
    if (removes.isEmpty && adds.nonEmpty) {
      readAppended(spark, root, vFrom, vTo)
        .select(idCol.cast("long").as("doc_id"), lit("added").as("status"))
    } else if (adds.isEmpty && removes.isEmpty) {
      graft.operators.Snapshots
        .diff(oldSide, oldSide, idCol, payloadCol).limit(0)
    } else {
      graft.operators.Snapshots
        .diff(oldSide, read(spark, root, Some(vTo)), idCol, payloadCol)
        .filter(col("status") =!= "unchanged")
    }
  }

  /** FULL-ROW change-data-feed over `(vFrom, vTo]` keyed by `keyCols` —
    * the Delta CDF row shape: every emitted row carries the table columns
    * (at `vTo`'s schema; older rows NULL-fill additive columns) plus
    * `_change_type` ∈ {insert, delete, update_preimage, update_postimage}
    * — an updated key emits BOTH images, which is what lets a downstream
    * consumer undo/redo or re-featurize exactly the touched examples.
    * Change detection is null-safe equality over the non-key columns.
    * `vFrom = 0` means since inception (everything is an insert). One
    * full-outer join by key; at 100 TB both sides hash-partition by key
    * (bucketed snapshots make it co-located).
    */
  def readChangeRows(spark: SparkSession, root: String, vFrom: Long,
      vTo: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "readChangeRows needs key columns")
    val newSnap = read(spark, root, Some(vTo))
    val oldRaw = if (vFrom == 0L) newSnap.limit(0)
      else read(spark, root, Some(vFrom))
    // align the old side to the new schema (additive evolution NULL-fills)
    val oldSnap = newSnap.schema.fieldNames.foldLeft(oldRaw) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(newSnap.schema.fieldNames.map(col): _*)
    val dataCols = newSnap.schema.fieldNames.filterNot(keyCols.contains)
    val o = oldSnap.select(keyCols.map(col) :+
      struct(dataCols.map(col): _*).as("__o"): _*)
    val n = newSnap.select(keyCols.map(col) :+
      struct(dataCols.map(col): _*).as("__n"): _*)
    val j = o.join(n, keyCols, "full_outer")
    def emit(side: String, tpe: Column) =
      j.filter(tpe.isNotNull)
        .select(keyCols.map(col) ++
          dataCols.map(c => col(s"$side.$c").as(c)) :+
          tpe.as("_change_type"): _*)
    val ins = emit("__n", when(col("__o").isNull && col("__n").isNotNull,
      lit("insert")))
    val del = emit("__o", when(col("__n").isNull && col("__o").isNotNull,
      lit("delete")))
    val changed = col("__o").isNotNull && col("__n").isNotNull &&
      !(col("__o") <=> col("__n"))
    val pre = emit("__o", when(changed, lit("update_preimage")))
    val post = emit("__n", when(changed, lit("update_postimage")))
    ins.unionByName(del).unionByName(pre).unionByName(post)
  }

  /** Commit HISTORY audit: one row per committed version with the
    * operation name (`#op:` metadata, null for hand-rolled commits), the
    * add/remove action counts and the epoch token if any — the DESCRIBE
    * HISTORY surface, read from the deltas alone (O(versions) metadata,
    * zero data IO). Deterministic by construction (no wall-clock in the
    * log), which is what lets the q223 gate hash it.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val store = LogStore.resolve(spark)
    // one listing stamps every manifest: no existence probe per version
    val listed =
      if (store.eq(HadoopLogStore)) HadoopLogStore.listStats(spark, logDir(root))
      else Map.empty[String, (Long, Long)]
    val rows = versions(spark, root).map { v =>
      val d = readDelta(spark, store, manifestPath(root, v),
        s"manifest for version $v vanished under $root",
        listed.get(s"v$v.manifest"))
      Row(v, d.meta.collectFirst { case ("op", o) => o }.orNull,
        d.adds.size.toLong, d.removes.size.toLong,
        d.meta.collectFirst { case ("epoch", e) => e.toLong }
          .map(Long.box).orNull)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("version", LongType),
        StructField("op", StringType), StructField("n_add", LongType),
        StructField("n_remove", LongType), StructField("epoch", LongType))))
  }

  // -------------------------------------------------------------------------
  // Retention
  // -------------------------------------------------------------------------

  /** Retention pass (the real formats' VACUUM): keep the newest
    * `keepVersions` manifests, delete older manifests/checkpoints and
    * every data file only they referenced, and sweep ORPHANS — commit-dir
    * files referenced by NO kept version (a crashed [[writeData]], a CAS
    * loser's staging, write markers) — older than `orphanMinAgeMs` (the
    * age guard protects a writer that has staged but not yet committed;
    * production retention uses hours, tests pass 0). Before anything is
    * deleted, a CHECKPOINT is written at the OLDEST KEPT version, so every
    * kept version stays reconstructible and the accumulated `#epochmax`
    * survives — a replayed streaming epoch stays a no-op even when the
    * manifest that carried its token is vacuumed (the crash-window hole a
    * marker-file ledger alone would reopen). Checksum sidecars
    * (`.<name>.crc`) are swept only when their data file is; emptied
    * commit dirs are removed. Time travel older than the horizon is GONE
    * after this by design. Driver-side, manifest-sized.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1,
      orphanMinAgeMs: Long = 7L * 24 * 3600 * 1000): Unit = {
    require(keepVersions >= 1, "must keep at least the head version")
    val store = LogStore.resolve(spark)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions under $root")
    val (old, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val oldestKept = keep.head
    // reconstructibility + epoch continuity: checkpoint the horizon BEFORE
    // deleting the deltas below it
    writeCheckpoint(spark, root, oldestKept, store)
    // epoch MARKER files ≤ the horizon's #epochmax are redundant with the
    // log-based recovery path (appendBatch's alreadyCommitted reads the
    // snapshot state, which the checkpoint above just made durable) —
    // sweep them, or an infinite appendStream accumulates one marker per
    // micro-batch forever and the flat-metadata claim quietly breaks
    state(spark, root, Some(oldestKept)).epochMax.foreach { em =>
      val epochsDir = s"${logDir(root)}/epochs"
      store.list(spark, epochsDir).foreach { n =>
        if (n.startsWith("epoch-") &&
            scala.util.Try(n.stripPrefix("epoch-").toLong).toOption
              .exists(_ <= em))
          store.delete(spark, s"$epochsDir/$n")
      }
    }
    val referenced = keep.flatMap { v =>
      val es = state(spark, root, Some(v)).entries
      // deletion-vector sidecars are live metadata of live files
      es.map(_.path) ++ es.flatMap(_.dvs)
    }.toSet
    old.foreach { v =>
      Seq(manifestPath(root, v), checkpointPath(root, v)).foreach { p =>
        store.delete(spark, p); invalidate(p)
      }
    }
    // stale checkpoints BETWEEN kept versions are fine to keep; only
    // sub-horizon ones were deleted above
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val now = System.currentTimeMillis()
    // sweep: recursively within dirs of exactly the commit-dir shape
    // writeData produces — never unrelated directories
    // a user parked under the root
    def sweep(dir: org.apache.hadoop.fs.Path, relDir: String): Unit = {
      fs.listStatus(dir).foreach { f =>
        val rel = if (relDir.isEmpty) f.getPath.getName
          else s"$relDir/${f.getPath.getName}"
        if (f.isDirectory) sweep(f.getPath, rel)
        else if (!referenced.contains(sweepKey(relDir, f.getPath.getName)) &&
            now - f.getModificationTime >= orphanMinAgeMs)
          fs.delete(f.getPath, false)
      }
      if (fs.listStatus(dir).isEmpty) fs.delete(dir, false)
    }
    fs.listStatus(rootP).filter(s =>
        s.isDirectory && s.getPath.getName.matches("c[0-9a-f]{32}"))
      .foreach(d => sweep(d.getPath, d.getPath.getName))
  }

  /** The referenced-set key a swept file is judged by: a checksum sidecar
    * `.<name>.crc` lives or dies with `<name>` (a live file's sidecar is
    * NOT an orphan — deleting it would silently disable local-FS checksum
    * verification for kept data). On ChecksumFileSystem the listing hides
    * sidecars and `delete` cascades to them, so this guard matters for
    * raw/remote filesystems whose listings expose them.
    */
  private[graft] def sweepKey(relDir: String, name: String): String = {
    val effective =
      if (name.startsWith(".") && name.endsWith(".crc"))
        name.stripPrefix(".").stripSuffix(".crc")
      else name
    if (relDir.isEmpty) effective else s"$relDir/$effective"
  }

  // -------------------------------------------------------------------------
  // Streaming append (exactly-once)
  // -------------------------------------------------------------------------

  /** One micro-batch of [[appendStream]] — EXACTLY-ONCE by committing the
    * epoch token ATOMICALLY with the file actions (`#epoch:<id>` manifest
    * metadata): a replayed epoch is detected from the log itself, so the
    * crash window a side-file marker would leave (commit lands, marker
    * doesn't) cannot duplicate rows. Recovery reads the accumulated
    * `#epochmax` from the snapshot state — O(commits-since-checkpoint),
    * not O(versions), and it SURVIVES [[vacuum]] because checkpoints carry
    * it forward. Sound under the single-writer-per-stream contract (epoch
    * ids commit in increasing order — see object doc). A marker file
    * remains as a fast-path cache; losing it merely costs the state read.
    * The batch stages and commits through [[append]]: its data files are
    * staged ONCE, and only the manifest commit rebases on a lost CAS
    * (appends commute, and re-staging would orphan the first attempt's
    * files) — the schema meta re-derived per attempt against the base it
    * lands on, so a concurrent writer's evolution is never clobbered.
    */
  def appendBatch(batch: DataFrame, batchId: Long, root: String,
      statCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val store = LogStore.resolve(spark)
    val marker = s"${logDir(root)}/epochs/epoch-$batchId"
    def alreadyCommitted: Boolean =
      headVersion(spark, root).exists(h =>
        state(spark, root, Some(h)).epochMax.exists(batchId <= _))
    if (!store.exists(spark, marker) && !alreadyCommitted)
      append(batch, root, meta = Seq(s"epoch:$batchId"), statCols)
    store.writeIfAbsent(spark, marker, "")
    ()
  }

  /** Continuous micro-batch APPEND into a logged table — the streaming
    * sink whose every batch becomes one atomic snapshot commit (readers
    * see whole batches or nothing), with the epoch-in-manifest
    * exactly-once contract of [[appendBatch]]. Under delta encoding each
    * epoch writes O(batch) manifest bytes and checkpoints amortize replay,
    * so the metadata cost of an infinite stream is FLAT per epoch.
    *
    * `compactEvery` > 0 composes the SMALL-FILES maintenance into the
    * sink: after every Nth epoch the sub-`targetBytes` tail is compacted
    * ([[compact]] — keep-by-reference for at-size files, one atomic
    * commit), so a sink fed tiny batches forever holds O(target-sized
    * files + N batches) live files instead of one file per batch per
    * task — the accumulation that otherwise sinks every long-running
    * micro-batch pipeline. The maintenance commit is SEPARATE from the
    * epoch's (a reader sees the append and the compaction as two
    * versions, each atomic), carries no epoch token, and is replay-safe:
    * a crash between append and compact re-runs only the compaction,
    * which converges (files at target are kept by reference). Old
    * versions keep the pre-compaction files until [[vacuum]].
    */
  def appendStream(updates: DataFrame, root: String, checkpointDir: String,
      compactEvery: Int = 0, targetBytes: Long = 128L << 20):
      org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatch(batch, id, root)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          compact(batch.sparkSession, root, targetBytes)
        ()
      }
      .start()
}
