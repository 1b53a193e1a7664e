package graft.tools

import org.apache.spark.sql.SparkSession

/** Empirical scale probe for the flagship dedup family (dev tool, not a
  * driver contract): synthesizes a corpus ~10× the sf0.1 fixtures with the
  * same shape (31-word salad vocabulary, 20 sources, 5 langs, planted
  * exact + near dup structure; embeddings as 10 cluster centers + per-dim
  * jitter), then times q62 (LSH dup clusters), q99 (keep-best), q100
  * (curation pipeline), the q102 SemDeDup shape and the ANN trio
  * (q22 brute force / q27 LSH / q33 IVF) at BOTH scales in one
  * session — the sf0.1→sf≈1 ratio is the evidence for BASELINE.md's
  * "no super-linear blowup" claim.
  *
  * Usage: runMain graft.tools.ScaleProbe /tmp/scaleprobe
  * (generates <dir>/documents.parquet + embeddings.parquet if absent).
  *
  * q102 note: SemDeDup's within-cluster pair search is quadratic in
  * CLUSTER SIZE, so a fair corpus scale-up must scale the centroid count
  * with the corpus (the paper's regime: cluster size roughly constant).
  * The probe therefore runs q102's shape with k=8 at sf0.1 and k=80 at
  * 10× — same expected cluster size — and ALSO reports the k=8-at-10×
  * pathology for the record.
  */
object ScaleProbe {

  private val vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

  /** Deterministic word-salad text for doc `id` (pure function of id). */
  private def textOf(id: Long): String = {
    val rnd = new scala.util.Random(id * 2654435761L + 40503L)
    val n = 8 + rnd.nextInt(105)
    (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }

  def genDocs(spark: SparkSession, dir: String, n: Int): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      // dup planting mirrors the fixture's ~8% duplicate mass:
      //  id%13==0 -> exact copy of an earlier doc; id%17==0 -> near-dup
      //  (same base text + one appended word); else fresh text
      val text =
        if (id % 13 == 0 && id > 0) textOf(id / 13)
        else if (id % 17 == 0 && id > 0) textOf(id / 17) + " spark"
        else textOf(id)
      val lang = langs(((id * 7919) % langs.length).toInt)
      (id, text, lang, s"src${id % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** 10× TPC-H tables by key-remapped replication: copy c ∈ [0, 10) maps
    * every key k to k·10+c, so each fact row's foreign keys land on the
    * SAME copy of its dimension rows — per-key fan-in (orders per
    * customer, lineitems per part/supplier) is IDENTICAL to the original,
    * only the table cardinalities grow 10×. That makes the probe a pure
    * data-volume scale-up of the join shapes, not a skew change.
    * nation/region are genuinely fixed-size dims and copy unchanged.
    */
  def genWarehouse(spark: SparkSession, src: String, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val copies = explode(sequence(lit(0L), lit(9L))).as("c")
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: org.apache.spark.sql.DataFrame, t: String) =
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    def remap(k: String) = (col(k) * 10 + col("c")).as(k)

    wr(rd("lineitem").select(col("*"), copies)
      .select(remap("l_orderkey"), remap("l_partkey"), remap("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")), "lineitem")
    wr(rd("orders").select(col("*"), copies)
      .select(remap("o_orderkey"), remap("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
      "orders")
    wr(rd("customer").select(col("*"), copies)
      .select(remap("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")), "customer")
    wr(rd("part").select(col("*"), copies)
      .select(remap("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")), "part")
    wr(rd("supplier").select(col("*"), copies)
      .select(remap("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal")), "supplier")
    wr(rd("nation"), "nation")
    wr(rd("region"), "region")
  }

  /** 10× events tape by copy-replication: copy c ∈ [0, 10) remaps
    * event_id → id·10+c and nudges ts by c µs, so the 5 per-type streams
    * keep their span but carry 10× the ticks — a pure volume scale-up of
    * the ordered-scan (gap/run/drawdown) shapes.
    */
  def genEvents(spark: SparkSession, src: String, dir: String,
      copies: Long = 10L): Unit = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(spark, src)
      .select(col("*"), explode(sequence(lit(0L), lit(copies - 1))).as("c"))
      .select((col("event_id") * copies + col("c")).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + col("c")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def genEmbeddings(spark: SparkSession, dir: String, n: Int): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, 32).map { id =>
      val label = ((id * 7919) % 10).toInt
      val rnd = new scala.util.Random(id * 40503L + 7L)
      val emb = Array.tabulate(64) { d =>
        val center = math.sin(label * 64 + d).toFloat // stable per (label, dim)
        center + (rnd.nextFloat() - 0.5f) * 0.3f
      }
      (id, emb, label)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def time(label: String)(f: => Long): Unit = {
    // min of 2: first run pays codegen; the second is the signal
    val (t, rows) = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }.minBy(_._1)
    println(f"[probe] $label%-28s ${t}%8.2f s  ($rows rows)")
  }

  def main(args: Array[String]): Unit = {
    // flags (--log-law etc.) are not directories: a flags-first invocation
    // must not synthesize a corpus under ./--log-law
    val positional = args.filterNot(_.startsWith("--"))
    val dir = positional.headOption.getOrElse("/tmp/scaleprobe")
    // arg 2 = the 1× source fixtures the 10× sets replicate from
    val srcDir = positional.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Pipeline, Similarity}

    // ONE shuffle-tally listener + shared measure/expFit for every probe
    // section (registered once: the per-section copies each added another
    // listener to the shared context, double-counting bytes when two
    // sections ran in one session — r11 ADVICE).
    val shuffleTally = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleTally.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    // measure: one warm rep (codegen/footers), then reset the tally and
    // time the second — bytes are deterministic, wall takes the warm rep
    def measure(label: String)(f: => Long): (Double, Long) = {
      f
      Thread.sleep(1500) // let the async listener bus drain the warm rep
      shuffleTally.set(0)
      val t0 = System.nanoTime()
      val rows = f
      val t = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500)
      val bytes = shuffleTally.get()
      println(f"[probe] $label%-28s ${t}%8.2f s  shuffle=${bytes / 1048576.0}%9.1f MB ($rows rows)")
      (t, bytes)
    }
    // growth exponents fit on the 10x -> 100x decade (the 1x point is
    // fixed-overhead-dominated)
    def expFit(r: Seq[(Double, Long)]): String = {
      val we = math.log(r(2)._1 / r(1)._1) / math.log(10.0)
      val be = if (r(1)._2 > 0 && r(2)._2 > 0)
        f"${math.log(r(2)._2.toDouble / r(1)._2) / math.log(10.0)}%.2f"
        else "n/a"
      f"wall exp=${we}%.2f shuffle exp=$be (10x -> 100x decade)"
    }

    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      println(s"[probe] generating 10x corpus under $dir")
      genDocs(spark, dir, 50000)
      genEmbeddings(spark, dir, 20000)
    }

    def docsOf(d: String) = spark.read.parquet(s"$d/documents.parquet")
    def embOf(d: String) = spark.read.parquet(s"$d/embeddings.parquet")

    // --skew-only: jump straight to the SemDeDup pathology + AQE
    // skew-split section (re-measuring one mitigation must not re-run the
    // whole suite)
    val skewOnly = args.contains("--skew-only")

    // ordered-scan + rank family at 10×: the two-pass
    // range-partition/stitch operators (gaps, runs, drawdown, key-skew,
    // KS, percent_rank) whose scale claim is "one sort-shuffle + KB
    // stitch". --seq-only runs just this section.
    def seqSection(): Unit = {
      import graft.operators.{Eval, Profile, Sequential, Stats}
      val ev10Dir = s"$dir/events10x"
      if (!new java.io.File(s"$ev10Dir/events.parquet").exists()) {
        println(s"[probe] generating 10x events under $ev10Dir")
        genEvents(spark, srcDir, ev10Dir)
      }
      for ((label, d) <- Seq(("sf0.1", srcDir), ("10x", ev10Dir))) {
        val e = graft.Tables.events(spark, d)
        time(s"$label q176_tick_gaps") {
          Sequential.tickGapAudit(e, col("event_type"),
            unix_micros(col("ts")), col("event_id"), 1800000000L).count()
        }
        time(s"$label q180_streaks") {
          Sequential.longestRuns(e, col("event_type"),
            unix_micros(col("ts")), col("event_id"), col("value")).count()
        }
        time(s"$label q184_drawdown") {
          Sequential.maxDrawdown(e, col("event_type"),
            unix_micros(col("ts")), col("event_id"),
            floor(col("value") * 100).cast("long")).count()
        }
      }
      for ((label, d) <- Seq(("sf0.1", srcDir), ("10x", s"$dir/warehouse10x"))
           if new java.io.File(s"$d/lineitem.parquet").exists()) {
        val li = spark.read.parquet(s"$d/lineitem.parquet")
        time(s"$label q181_key_skew") {
          Profile.keySkew(li, col("l_partkey")).count()
        }
        time(s"$label q179_ks_test") {
          Eval.ksTest(li.filter(col("l_returnflag").isin("R", "A")),
            (col("l_returnflag") === "R").cast("long"),
            col("l_extendedprice")).count()
        }
      }
      for ((label, d) <- Seq(("sf0.1", srcDir), ("10x", dir))) {
        time(s"$label q185_percent_rank") {
          Stats.percentRank(docsOf(d), col("doc_id"), col("n_chars")).count()
        }
        time(s"$label q187_ks_by_group") {
          Eval.ksTestByGroup(docsOf(d), col("source"),
            (col("lang") === "en").cast("long"), col("n_chars")).count()
        }
      }
    }
    // --hundredx-only: 1×/10×/100× growth-exponent fit for ONE dedup chain
    // (q62: minhash → band join → verify → connected components) and ONE
    // ordered-scan/stitch op (q184 maxDrawdown) — a 10× ratio bounds
    // first-order behavior but cannot resolve a √n or log n super-linear
    // term; two decades can (VERDICT r9 Next #4). Records wall AND total
    // shuffle-write bytes per run; exponents fit on the 10×→100× decade
    // (the 1× point is fixed-overhead-dominated).
    def hundredxSection(): Unit = {
      import graft.operators.Sequential
      val d100 = s"$dir/hundredx"
      if (!new java.io.File(s"$d100/documents.parquet").exists()) {
        println(s"[probe] generating 100x corpus under $d100")
        genDocs(spark, d100, 500000)
      }
      val ev10Dir = s"$dir/events10x"
      if (!new java.io.File(s"$ev10Dir/events.parquet").exists())
        genEvents(spark, srcDir, ev10Dir)
      val ev100Dir = s"$d100/events100x"
      if (!new java.io.File(s"$ev100Dir/events.parquet").exists()) {
        println(s"[probe] generating 100x events under $ev100Dir")
        genEvents(spark, srcDir, ev100Dir, copies = 100L)
      }
      val dedupRes = Seq(("1x", srcDir), ("10x", dir), ("100x", d100)).map {
        case (label, d) =>
          measure(s"$label q62_dup_clusters") {
            val docs = docsOf(d)
            val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
            Dedup.dupGroups(docs, col("doc_id"), pairs).count()
          }
      }
      println(s"[probe] q62 growth: ${expFit(dedupRes)}")
      val ddRes = Seq(("1x", srcDir), ("10x", ev10Dir), ("100x", ev100Dir))
        .map { case (label, d) =>
          measure(s"$label q184_drawdown") {
            Sequential.maxDrawdown(graft.Tables.events(spark, d),
              col("event_type"), unix_micros(col("ts")), col("event_id"),
              floor(col("value") * 100).cast("long")).count()
          }
        }
      println(s"[probe] q184 growth: ${expFit(ddRes)}")
    }
    // --ann-hundredx: the q97 IVF-PQ chain's two-decade growth fit
    // (VERDICT r10 Next #2) — cell assign → pqEncode → LUT scan → rescore
    // at 1×/10×/100× the embedding corpus with a FIXED 5-query load, so
    // the exponents measure the corpus-side scaling (index build + probed-
    // cell candidate join) that a skewed cell distribution could push
    // super-linear. Same wall + shuffle-bytes fit as --hundredx-only; the
    // gate's nprobe=16 configuration.
    def annHundredxSection(): Unit = {
      import graft.operators.Quantize
      graft.functions.GraftFunctions.register(spark)
      val d100 = s"$dir/hundredx"
      if (!new java.io.File(s"$d100/embeddings.parquet").exists()) {
        println(s"[probe] generating 100x embeddings under $d100")
        genEmbeddings(spark, d100, 200000)
      }
      // cell-population skew at each scale: the probed-cell candidate
      // join's per-cell fan-out is the suspected super-linear term (q172
      // audits the Gini; this prints max/mean occupancy next to the wall),
      // counted from the index's own cell assignment (the q97 chain's
      // default 64-cell coarse quantizer)
      Seq(("1x", srcDir), ("10x", dir), ("100x", d100)).foreach {
        case (label, d) =>
          val emb = embOf(d)
          val cellStats = Similarity.normed(emb)
            .select(Similarity.coarseCells(emb, 64).assign.as("cell"))
            .groupBy(col("cell")).agg(count(lit(1)).as("n"))
            .agg(count(lit(1)).as("n_cells"), max(col("n")).as("mx"),
              avg(col("n")).as("mean")).collect().head
          println(f"[probe] $label cells: n=${cellStats.getLong(0)} " +
            f"max=${cellStats.getLong(1)} mean=${cellStats.getDouble(2)}%.1f " +
            f"(max/mean=${cellStats.getLong(1) / cellStats.getDouble(2)}%.2f)")
      }
      val res = Seq(("1x", srcDir), ("10x", dir), ("100x", d100)).map {
        case (label, d) =>
          measure(s"$label q97_ivfpq_knn") {
            Quantize.ivfPqKnn(embOf(d), col("vec_id") < 5, k = 10,
              nprobe = 16).count()
          }
      }
      println(s"[probe] ivfPqKnn growth: ${expFit(res)}")
    }
    if (args.contains("--ann-hundredx")) {
      annHundredxSection(); spark.stop(); return
    }
    // --funnel-hundredx: two-decade growth fit for the COMPOSED batch
    // curation funnel (q100's Pipeline.curate) — the one multi-stage op
    // whose stages have individual laws (dedup chain 0.82/1.29, BASELINE
    // r10) but whose composition (stage pins + CC closure + decontam
    // inverted index) has none. Bench split is doc_id % 10 = 0, as in the
    // gate.
    def funnelHundredxSection(): Unit = {
      val d100 = s"$dir/hundredx"
      if (!new java.io.File(s"$d100/documents.parquet").exists()) {
        println(s"[probe] generating 100x corpus under $d100")
        genDocs(spark, d100, 500000)
      }
      val res = Seq(("1x", srcDir), ("10x", dir), ("100x", d100)).map {
        case (label, d) =>
          measure(s"$label q100_curate") {
            Pipeline.curate(docsOf(d), col("doc_id"), col("text"),
              benchPred = col("doc_id") % 10 === 0).count()
          }
      }
      println(s"[probe] curate growth: ${expFit(res)}")
    }
    if (args.contains("--funnel-hundredx")) {
      funnelHundredxSection(); spark.stop(); return
    }
    // --funnel-stream: the STREAMING ingest funnel's growth law (VERDICT
    // r11 Next #3) — replay the full composed CurationStream.replayFunnelTtl
    // at 1× (sf0.1) and 10× (the synthetic probe corpus), recording wall +
    // end-of-replay state rows/bytes PER STAGE. Two 10× rows: the gate
    // geometry (TTL tracks the corpus → state grows with it, by contract)
    // and a FIXED-TTL rerun pinning rate×TTL to the 1× window — the law is
    // that per-stage state stays FLAT there while the tape is 10× longer,
    // with wall exponent ≲ 1.
    def funnelStreamSection(): Unit = {
      import graft.streaming.CurationStream
      // media probe sketch: groups of 8 docs share a 64-bit sketch (the
      // q199 group geometry without the decode — the probe measures the
      // INDEX state/wall, and the decode prep-pass has its own measured
      // throughput row in --media-hundredx)
      val mediaSk = xxhash64(floor(col("doc_id") / 8))
      // the replays' start order: replayFunnelTtl drains one stage each
      val stages = Seq("s2_exact_ttl", "s3_band_ttl", "s4_media_ttl")
      def gateTtl(d: String): Long =
        CurationStream.defaultTtlMs(docsOf(d), col("doc_id"), col("text"))
      def run(label: String, d: String, ttlMs: Long,
          withMedia: Boolean): Double = {
        val t0 = System.nanoTime()
        val (rows, perStage) = StreamStateProbe.stateOf(spark) {
          CurationStream.replayFunnelTtl(spark, docsOf(d),
            col("doc_id"), col("text"), ttlMsOverride = Some(ttlMs),
            skCol = if (withMedia) Some(mediaSk) else None).count()
        }
        val w = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $label%-36s ${w}%8.2f s  ($rows rows, ttl=${ttlMs / 1000}s)")
        stages.zip(perStage).foreach { case (stage, stats) =>
          stats.foreach { case (op, rows2, bytes) =>
            println(f"[probe]   $label $stage state: rows=$rows2 bytes=$bytes ($op)")
          }
        }
        w
      }
      val ttl1 = gateTtl(srcDir)
      val ttl10 = gateTtl(dir)
      val w1 = run("1x funnelTtl (gate ttl)", srcDir, ttl1, withMedia = false)
      run("10x funnelTtl (gate ttl)", dir, ttl10, withMedia = false)
      val w10 = run("10x funnelTtl (ttl pinned to 1x)", dir, ttl1,
        withMedia = false)
      println(f"[probe] funnel-stream wall exp=${math.log(w10 / w1) / math.log(10.0)}%.2f (1x -> 10x, fixed rate×TTL)")
      // the media-stage law (q207's fourth stage): same contract — state
      // at rate×TTL, flat when the window is pinned while the tape is 10×
      val m1 = run("1x funnelTtl+media (gate ttl)", srcDir, ttl1,
        withMedia = true)
      run("10x funnelTtl+media (gate ttl)", dir, ttl10, withMedia = true)
      val m10 = run("10x funnelTtl+media (ttl pinned to 1x)", dir, ttl1,
        withMedia = true)
      println(f"[probe] funnel-stream+media wall exp=${math.log(m10 / m1) / math.log(10.0)}%.2f (1x -> 10x, fixed rate×TTL)")
    }
    if (args.contains("--funnel-stream")) {
      funnelStreamSection(); spark.stop(); return
    }
    // --compaction-law: the maintenance planner's growth exponent over
    // 10k/100k/1M-row synthetic file manifests (metadata-only — the plan
    // is the cheap half of compaction by design, and this row proves it
    // stays that way): the two-pass prefix-sum planner (compactionPlan,
    // the q200 surface) is fit on the 100k→1M decade. File sizes
    // hash-scatter across [1, 4096] against target 2000, so keeps and
    // rewrites both stay ~materially populated.
    def compactionLawSection(): Unit = {
      import graft.sources.Warehouse
      def manifest(n: Long) = spark.range(0, n, 1, 32)
        .select(col("id").as("file_id"),
          (pmod(xxhash64(col("id")), lit(4096L)) + lit(1L)).as("bytes"))
      // materialize through the bin column: a bare count() lets the
      // optimizer eliminate the unreferenced window/packing entirely (the
      // decontam-probe lesson)
      def force(df: org.apache.spark.sql.DataFrame): Long = {
        val r = df.agg(count(lit(1)), sum(col("bin"))).head()
        r.getLong(0) + r.getLong(1) * 0
      }
      val walls = Seq(("10k", 10000L), ("100k", 100000L), ("1M", 1000000L))
        .map { case (label, n) =>
          measure(s"$label compactionPlan") {
            force(Warehouse.compactionPlan(manifest(n), col("file_id"),
              col("bytes"), targetBytes = 2000L))
          }
        }
      println(s"[probe] compactionPlan growth: ${expFit(walls)}")
    }
    if (args.contains("--compaction-law")) {
      compactionLawSection(); spark.stop(); return
    }
    // --log-law: the commit log's PLANNING cost law — commit and
    // plan-from-manifest over 1k/10k/100k-entry synthetic manifests
    // (entries with sizes + stats; no data files needed — planning never
    // touches data, which is the claim). All driver-side: wall only,
    // exponent on the 10k→100k decade. The numbers evidence 'planning
    // without listing': one manifest read + an in-memory range filter
    // replaces an O(files) directory walk + footer fetches.
    def logLawSection(): Unit = {
      import graft.sources.TableLog
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      val res = Seq(("1k", 1000), ("10k", 10000), ("100k", 100000)).map {
        case (label, n) =>
          val root = s"${System.getProperty("java.io.tmpdir")}/graft_loglaw_$n"
          rm(new java.io.File(root))
          val entries = (0 until n).map(i => TableLog.Entry(
            f"c0/part-$i%05d.parquet", Some(1000L + i),
            Map("v" -> ((i.toLong * 100, i.toLong * 100 + 99)))))
          val tc0 = System.nanoTime()
          TableLog.commit(spark, root, entries)
          val tc = (System.nanoTime() - tc0) / 1e9
          // warm once (file cache), then time the planning read + a 1%
          // range prune decision
          TableLog.manifestEntries(spark, root)
          val lo = n.toLong * 99L; val hi = lo + n.toLong
          val t0 = System.nanoTime()
          val cand = TableLog.manifestEntries(spark, root).count(e =>
            e.stats.get("v").forall { case (mn, mx) => mx >= lo && mn <= hi })
          val tp = (System.nanoTime() - t0) / 1e9
          println(f"[probe] $label%-5s log commit ${tc}%7.3f s  plan ${tp}%7.3f s  (candidates=$cand of $n)")
          (tc, tp)
      }
      def e(f: ((Double, Double)) => Double) =
        math.log(f(res(2)) / f(res(1))) / math.log(10.0)
      println(f"[probe] log-law growth: commit exp=${e(_._1)}%.2f plan exp=${e(_._2)}%.2f (10k -> 100k decade)")
      // DELTA-COMMIT LAW (r14): 1k successive single-entry commits into a
      // 10k-entry table, through the public full-snapshot commit API (the
      // diff is computed internally — the delta manifest is what lands).
      // Pre-r14 every commit rewrote the full list: O(table) manifest
      // bytes PER COMMIT and a log dir of O(commits × table) bytes. The
      // law to evidence: per-commit manifest bytes are O(batch)=O(1) here,
      // commit wall time is FLAT from the first 100 commits to the last
      // 100 (checkpoint parse is O(table), bounded and amortized —
      // interval default 10), and head resolution + head planning stay
      // flat as the commit count grows 1k×.
      val root2 = s"${System.getProperty("java.io.tmpdir")}/graft_loglaw_delta"
      rm(new java.io.File(root2))
      var entries = (0 until 10000).map(i => TableLog.Entry(
        f"c0/part-$i%05d.parquet", Some(1000L + i),
        Map("v" -> ((i.toLong * 100, i.toLong * 100 + 99)))))
      TableLog.commit(spark, root2, entries)
      val commitTimes = (1 to 1000).map { i =>
        entries = entries :+ TableLog.Entry(f"c1/part-$i%05d.parquet",
          Some(2000L), Map("v" -> ((1000000L + i, 1000000L + i))))
        val t0 = System.nanoTime()
        TableLog.commit(spark, root2, entries)
        (System.nanoTime() - t0) / 1e9
      }
      val manifests = new java.io.File(s"$root2/_graft_log").listFiles()
        .filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
      val deltaSizes = manifests.filterNot(_.getName == "v1.manifest").map(_.length())
      val tHead0 = System.nanoTime()
      val head = TableLog.headVersion(spark, root2).get
      val tHead = (System.nanoTime() - tHead0) / 1e9
      val tPlan0 = System.nanoTime()
      val n = TableLog.manifestEntries(spark, root2).size
      val tPlan = (System.nanoTime() - tPlan0) / 1e9
      def mean(xs: Seq[Double]) = xs.sum / xs.size
      println(f"[probe] delta-law: 1k commits into 10k-entry table  " +
        f"commit mean=${mean(commitTimes) * 1000}%.1f ms  " +
        f"first100=${mean(commitTimes.take(100)) * 1000}%.1f ms  " +
        f"last100=${mean(commitTimes.takeRight(100)) * 1000}%.1f ms  " +
        f"delta manifest bytes max=${deltaSizes.max}  " +
        f"(v1 full=${manifests.find(_.getName == "v1.manifest").map(_.length()).getOrElse(0L)})  " +
        f"head(v$head) resolve=${tHead * 1000}%.1f ms  plan($n entries)=${tPlan * 1000}%.1f ms")
      // DV READ-OVERHEAD LAW (r15): read wall vs deleted fraction, inline
      // run-set filter (default) vs the forced anti-join fallback, on a
      // 1M-row 8-file clustered table. The claim to evidence: the inline
      // path's overhead stays flat as the deleted fraction grows (a range
      // delete is O(runs) pairs, not O(positions)), while the anti-join
      // pays a shuffle regardless.
      import org.apache.spark.sql.functions.{col, sum}
      val root3 = s"${System.getProperty("java.io.tmpdir")}/graft_loglaw_dv"
      rm(new java.io.File(root3))
      val dvDf = spark.range(1000000L).select(col("id").as("k"),
        col("id").as("v")).repartitionByRange(8, col("v"))
      TableLog.overwrite(dvDf, root3, statCols = Seq("v"))
      def readWall(): Double = {
        val t0 = System.nanoTime()
        TableLog.read(spark, root3).agg(sum(col("k"))).head()
        (System.nanoTime() - t0) / 1e9
      }
      val base = { readWall(); readWall() } // warm then measure
      // labels are CUMULATIVE: the second deleteVectors stacks on the
      // first, so the measured state is 11% deleted with two sidecars
      Seq(("1%", 0L, 9999L), ("11% cum", 10000L, 109999L)).foreach {
        case (label, lo, hi) =>
          TableLog.deleteVectors(spark, root3,
            col("v").between(lo, hi))
          val inline = { readWall(); readWall() }
          spark.conf.set(TableLog.DvInlineMaxPositionsKey, "0")
          val anti = { readWall(); readWall() }
          spark.conf.unset(TableLog.DvInlineMaxPositionsKey)
          println(f"[probe] dv-law: deleted=$label%-3s  base=${base}%.3f s  " +
            f"inline=${inline}%.3f s (${(inline / base - 1) * 100}%+.0f%%)  " +
            f"antijoin=${anti}%.3f s (${(anti / base - 1) * 100}%+.0f%%)")
      }
    }
    if (args.contains("--log-law")) {
      logLawSection(); spark.stop(); return
    }
    // --rebase-law: MULTI-WRITER CONTENTION — N ∈ {2,4,8} writer threads
    // race M blind appends each through the real HadoopLogStore CAS (the
    // hard-link/rename-exclusive primitive), every commit auto-rebasing on
    // a lost race (q229's correctness, here measured). Reported: commit
    // throughput, total rebase rounds and the rebase-per-commit ratio —
    // the law to evidence is that ALL N×M commits land (serial-equivalent
    // state, verified) with rebase cost growing with contention but
    // throughput staying useful; the table data is tiny so the numbers
    // isolate the METADATA protocol, not parquet writing.
    def rebaseLawSection(): Unit = {
      import graft.sources.TableLog
      import org.apache.spark.sql.functions.col
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      val perWriter = 8
      Seq(2, 4, 8).foreach { n =>
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_rebaselaw_$n"
        rm(new java.io.File(root))
        TableLog.overwrite(
          spark.range(0, 1).select(col("id").as("k")), root)     // v1
        // pre-stage every writer's batches OUTSIDE the clock: the race
        // being measured is manifest commits, not parquet writes
        val staged = (0 until n).map { w =>
          (0 until perWriter).map { i =>
            val lo = (w * perWriter + i) * 10L + 100L
            TableLog.writeData(
              spark.range(lo, lo + 10L).select(col("id").as("k")), root)
          }
        }
        TableLog.rebaseTally.set(0L)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
        val t0 = System.nanoTime()
        val fs = (0 until n).map { w =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              staged(w).foreach { files =>
                TableLog.commitDeltaRebasing(spark, root, files, Nil,
                  basedOn = 1L, _ => Seq("op:append"))
              }
          })
        }
        fs.foreach(_.get())
        pool.shutdown()
        val wall = (System.nanoTime() - t0) / 1e9
        val rebases = TableLog.rebaseTally.get()
        val commits = n * perWriter
        val head = TableLog.headVersion(spark, root).get
        val rows = TableLog.read(spark, root).count()
        require(head == 1L + commits,
          s"every racing append must land exactly once: head=$head")
        require(rows == 1L + commits * 10L,
          s"serial-equivalent state expected: rows=$rows")
        println(f"[probe] rebase-law: writers=$n%-2d commits=$commits%-3d " +
          f"wall=${wall}%6.2f s  throughput=${commits / wall}%5.1f commits/s  " +
          f"rebases=$rebases%-4d (${rebases.toDouble / commits}%.2f per commit)")
      }
    }
    if (args.contains("--rebase-law")) {
      rebaseLawSection(); spark.stop(); return
    }
    // --hashed-hundredx: the hashed-embedding retrieval chain's two-decade
    // growth fit (VERDICT r11 Next #5) — hashedEmbedding (scan-side
    // featurization) composed into hashedKnn (broadcast queries + bounded
    // graft_topk exchange) at 1×/10×/100× the corpus with the gate's fixed
    // 5-query load. The candidate stage is broadcast-bounded BY
    // CONSTRUCTION, but so was q97's rescore fetch before the r11 probe
    // caught sort-merge shuffling the corpus — hence the measured row.
    def hashedHundredxSection(): Unit = {
      import graft.operators.Corpus
      graft.functions.GraftFunctions.register(spark)
      val d100 = s"$dir/hundredx"
      if (!new java.io.File(s"$d100/documents.parquet").exists()) {
        println(s"[probe] generating 100x corpus under $d100")
        genDocs(spark, d100, 500000)
      }
      val res = Seq(("1x", srcDir), ("10x", dir), ("100x", d100)).map {
        case (label, d) =>
          measure(s"$label q198_hashed_knn") {
            Corpus.hashedKnn(docsOf(d), col("doc_id"), col("text"),
              queryPred = col("doc_id") < 5, k = 10).count()
          }
      }
      println(s"[probe] hashedKnn growth: ${expFit(res)}")
    }
    if (args.contains("--hashed-hundredx")) {
      hashedHundredxSection(); spark.stop(); return
    }
    // --media-hundredx: the media near-dup family's two-decade law. Two
    // measurements, matching the family's two cost centers: (a) the
    // pigeonhole-blocked hamming JOIN (Dedup.hamming64Pairs) over
    // 5k/50k/500k sketches with the q199 planted-group structure — the
    // exchange that must stay linear; (b) the per-asset DECODE throughput
    // (encode+imageDHash round trip, the prep-pass cost that runs once per
    // asset at 100 TB) measured as assets/s on one corpus — a pure map,
    // so its scale story is throughput, not an exponent.
    def mediaHundredxSection(): Unit = {
      import graft.operators.{Dedup, Multimodal}
      import spark.implicits._
      def sketches(n: Long) = spark.range(0, n, 1, 32)
        .map(id => (id, Multimodal.dHashPatternOf(id))).toDF("doc_id", "sk")
      val res = Seq(("1x", 5000L), ("10x", 50000L), ("100x", 500000L)).map {
        case (label, n) =>
          measure(s"$label hamming64Pairs") {
            Dedup.hamming64Pairs(sketches(n), maxHamming = 3).count()
          }
      }
      println(s"[probe] hamming64Pairs growth: ${expFit(res)}")
      val t0 = System.nanoTime()
      val decoded = spark.range(0, 5000, 1, 32).map { id =>
        Multimodal.imageDHash(Multimodal.encodeDHashPng(
          Multimodal.dHashPatternOf(id), cell = 1 + (id % 3).toInt)).get
      }.filter(_ != 0L).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] imageDHash prep-pass: ${decoded / dt}%.0f assets/s " +
        f"($decoded assets in ${dt}%.1f s, 32 threads)")
    }
    if (args.contains("--media-hundredx")) {
      mediaHundredxSection(); spark.stop(); return
    }
    // --decontam-hundredx: the q92 claim measured — the Bloom variant's
    // advantage must GROW with corpus size (the exact path builds and
    // semi-joins a distinct-shingle table that scales with the train
    // corpus; the Bloom path replaces it with one 512 KB mergeable
    // aggregate + a join-free scan probe). eval split = doc_id % 10 = 0.
    def decontamHundredxSection(): Unit = {
      import graft.operators.Corpus
      val d100 = s"$dir/hundredx"
      if (!new java.io.File(s"$d100/documents.parquet").exists()) {
        println(s"[probe] generating 100x corpus under $d100")
        genDocs(spark, d100, 500000)
      }
      // two vocabulary regimes: the raw probe corpus (31-word vocab —
      // distinct shingles BOUNDED, the exact path's semi-join table never
      // grows, so exact wins and the Bloom claim is vacuous there) and a
      // per-doc-salted corpus (every doc's tokens unique — distinct
      // shingles ~ corpus tokens, the regime real diverse text is in and
      // the one the 512 KB sketch exists for)
      Seq(("fixed-vocab", identity[org.apache.spark.sql.DataFrame] _),
          ("diverse", (df: org.apache.spark.sql.DataFrame) =>
            df.withColumn("text", expr(
              "concat_ws(' ', transform(split(text, ' '), x -> concat(x, '_', CAST(doc_id AS STRING))))"))))
        .foreach { case (regime, prep) =>
          // materialize through the flag column: a bare count() lets the
          // optimizer ELIMINATE the hits join entirely (left join, distinct
          // right key, no referenced columns) and measures only the eval
          // scan — the first probe run's numbers were that artifact
          def force(df: org.apache.spark.sql.DataFrame): Long = {
            val r = df.agg(count(lit(1)),
              sum(when(col("contaminated"), 1L).otherwise(0L))).head()
            r.getLong(0) + r.getLong(1) * 0
          }
          Seq(("1x", srcDir), ("10x", dir), ("100x", d100)).foreach {
            case (label, d) =>
              val docs = prep(docsOf(d))
              measure(s"$label/$regime exact") {
                force(Corpus.decontaminate(docs, col("doc_id"), col("text"),
                  evalPred = col("doc_id") % 10 === 0))
              }
              measure(s"$label/$regime bloom") {
                force(Corpus.decontaminateBloom(docs, col("doc_id"), col("text"),
                  evalPred = col("doc_id") % 10 === 0))
              }
          }
        }
    }
    if (args.contains("--decontam-hundredx")) {
      decontamHundredxSection(); spark.stop(); return
    }
    // --dedup-breakdown: stage-by-stage row counts for the q62 chain at a
    // given corpus — where does the 100× shuffle mass come from?
    def dedupBreakdown(): Unit = {
      graft.functions.GraftFunctions.register(spark)
      import graft.functions.Text
      for ((label, d) <- Seq(("10x", dir), ("100x", s"$dir/hundredx"))) {
        val docs = docsOf(d)
        val base = docs.select(col("doc_id"),
          call_function("graft_shingles", col("text"), lit(3)).as("sh"))
        val sigs = base.select(col("doc_id"),
            call_function("graft_minhash", col("sh"), lit(128)).as("sig"))
          .withColumn("band", explode(Text.bands(col("sig"), 64, 2)))
          .select(col("band"), col("doc_id"))
        val bucketSizes = sigs.groupBy("band").count()
        val stats = bucketSizes.agg(count(lit(1)).as("n_buckets"),
          max(col("count")).as("max_bucket"),
          sum(col("count") * (col("count") - 1) / 2).as("join_rows"),
          sum(when(col("count") > 100, col("count") * (col("count") - 1) / 2)
            .otherwise(0L)).as("join_rows_hot100")).collect().head
        val nCand = graft.operators.Dedup.minhashNearDups(docs, col("doc_id"),
          col("text")).count()
        println(s"[probe] $label breakdown: buckets=${stats.get(0)} " +
          s"max_bucket=${stats.get(1)} band_join_rows=${stats.get(2)} " +
          s"from_buckets_gt100=${stats.get(3)} verified_pairs=$nCand")
        val top = bucketSizes.orderBy(col("count").desc).limit(5).collect()
          .map(_.getLong(1)).mkString(",")
        println(s"[probe] $label top-5 bucket sizes: $top")
      }
    }
    if (args.contains("--dedup-breakdown")) {
      dedupBreakdown(); spark.stop(); return
    }
    if (args.contains("--hundredx-only")) {
      hundredxSection(); spark.stop(); return
    }
    // --pagerank-only: the iterative-loop materialization hygiene probe
    // (VERDICT r9 Next #5) — per-round wall must stay FLAT as iters grows,
    // which only holds if the rank lineage is cut every checkpointEvery
    // rounds; the unmaterialized contrast row shows the plan-depth tax.
    def pagerankSection(): Unit = {
      import graft.operators.Graph
      val docs = docsOf(srcDir)
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val nodes = docs.select(col("doc_id")).localCheckpoint()
      for (iters <- Seq(5, 15, 30, 60)) {
        val t0 = System.nanoTime()
        val n = Graph.pagerank(nodes, pairs, iters = iters).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[probe] pagerank iters=$iters%-3d checkpointed   " +
          f"${t}%8.2f s  (${t / iters}%6.3f s/round, $n rows)")
      }
      // contrast: the same rounds with the lineage never cut
      for (iters <- Seq(30, 60, 90)) {
        val t0 = System.nanoTime()
        val n = Graph.pagerank(nodes, pairs, iters = iters,
          checkpointEvery = Int.MaxValue).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[probe] pagerank iters=$iters%-3d UNMATERIALIZED " +
          f"${t}%8.2f s  (${t / iters}%6.3f s/round, $n rows)")
      }
    }
    if (args.contains("--pagerank-only")) {
      pagerankSection(); spark.stop(); return
    }
    // --core-law: the CORE-SCALING signal the sf0.1 bench cannot give
    // (single-row-group parquet fixtures can't split, so 8-core and
    // 32-core totals differ by ~1% — r16 VERDICT watch item 1): time the
    // heavy dedup/curation/ANN chains over the synthesized MULTI-FILE 10×
    // corpus (32-way parquet, splittable scans) at THIS invocation's
    // $SPARK_GRAFT_CPUS. Run twice — SPARK_GRAFT_CPUS=32 then =8 — and
    // compare walls: the low/high-core ratio over splittable input is the
    // guide-§2 scale evidence for these operators.
    def coreLawSection(): Unit = {
      println(s"[probe] core-law at local[$cpus]")
      // point `dir` at any synthesized corpus (e.g. <base>/hundredx for the
      // 500k-doc one — small corpora are scheduling-bound and show ~1
      // ratios); embeddings are generated alongside when missing, sized to
      // the doc corpus, and semdedup's k scales to keep cluster size fixed
      // (the q102 fairness convention above)
      val docs = docsOf(dir)
      if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
        val nEmb = math.min(400000L, math.max(20000L, (docs.count() / 2.5).toLong)).toInt
        println(s"[probe] generating $nEmb embeddings under $dir")
        genEmbeddings(spark, dir, nEmb)
      }
      val emb = embOf(dir)
      measure("core q62_dup_clusters") {
        val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        Dedup.dupGroups(docs, col("doc_id"), pairs).count()
      }
      measure("core q99_keep_best") {
        val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        Dedup.dupGroupsBest(docs, col("doc_id"),
          length(col("text")).cast("long"), pairs).count()
      }
      measure("core q100_curation") {
        Pipeline.curate(docs, col("doc_id"), col("text"),
          benchPred = col("doc_id") % 10 === 0).count()
      }
      measure("core q163_triangles") {
        val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
          .select(col("doc_a"), col("doc_b"))
        graft.operators.Graph.triangles(pairs).count()
      }
      val e = emb.select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("v"))
      val nE = emb.count()
      val kSem = math.max(8L, nE / 250).toInt
      // NOT a silent cap (guide §: log what was dropped): semdedup's
      // centroid broadcast + within-cluster pair mass blow the probe JVM
      // past ~100k vectors; the smaller corpora already carry its row
      if (nE <= 100000)
        measure(s"core q102_semdedup(k=$kSem)") {
          Similarity.semDedup(emb,
            e.filter(col("vec_id") < kSem).select(col("vec_id").as("cid"),
              col("v").as("cv")), threshold = 0.4).count()
        }
      else println(s"[probe] core-law SKIPS q102_semdedup at $nE vectors " +
        "(probe-JVM bound; run it on the 10x corpus for that row)")
      measure("core q126_covariance") {
        graft.operators.Kmeans.covarianceMatrix(emb).count()
      }
      measure("core q22_brute_knn") {
        Similarity.bruteForceKnn(emb, col("vec_id") < 5, k = 10).count()
      }
      measure("core q27_lsh_knn") {
        Similarity.lshKnn(emb, col("vec_id") < 5, k = 10).count()
      }
      measure("core q33_ivf_knn") {
        Similarity.ivfKnn(emb, col("vec_id") < 5, k = 10).count()
      }
      measure("core q206_html_extract") {
        graft.operators.Corpus.extractMainText(
          docs.select(col("doc_id"), concat(lit("<html><body><p>"),
            col("text"), lit("</p></body></html>")).as("html")),
          col("doc_id"), col("html")).count()
      }
    }
    if (args.contains("--core-law")) {
      coreLawSection(); spark.stop(); return
    }
    if (args.contains("--seq-only")) {
      seqSection(); spark.stop(); return
    }

    if (!skewOnly)
    for ((label, d) <- Seq(("sf0.1", srcDir), ("10x", dir))) {
      val docs = docsOf(d)
      time(s"$label q62_dup_clusters") {
        val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        Dedup.dupGroups(docs, col("doc_id"), pairs).count()
      }
      time(s"$label q99_keep_best") {
        val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
        Dedup.dupGroupsBest(docs, col("doc_id"),
          length(col("text")).cast("long"), pairs).count()
      }
      time(s"$label q100_curation") {
        Pipeline.curate(docs, col("doc_id"), col("text"),
          benchPred = col("doc_id") % 10 === 0).count()
      }
      time(s"$label q163_triangles") {
        val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
          .select(col("doc_a"), col("doc_b"))
        graft.operators.Graph.triangles(pairs).count()
      }
      val emb = embOf(d)
      val e = emb.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      val k = if (label == "10x") 80 else 8
      time(s"$label q102_semdedup(k=$k)") {
        Similarity.semDedup(emb,
          e.filter(col("vec_id") < k).select(col("vec_id").as("cid"), col("v").as("cv")),
          threshold = 0.4).count()
      }
      // ANN family at both scales: brute force is the linear yardstick;
      // LSH buckets and IVF probed cells are the claimed scale paths. All
      // three run the q22/q27/q33 gate shapes (5 queries, k=10) unchanged.
      time(s"$label q22_brute_knn") {
        Similarity.bruteForceKnn(emb, col("vec_id") < 5, k = 10).count()
      }
      time(s"$label q27_lsh_knn") {
        Similarity.lshKnn(emb, col("vec_id") < 5, k = 10).count()
      }
      time(s"$label q33_ivf_knn") {
        Similarity.ivfKnn(emb, col("vec_id") < 5, k = 10).count()
      }
    }
    // warehouse join family at 10x: the key-remapped replication keeps
    // per-key fan-in identical, so these ratios isolate pure data-volume
    // scaling of the join/agg shapes (expect ≈linear wall-clock; the
    // semi/anti correlations of Q21 are the ones to watch)
    if (!skewOnly) {
      val whDir = s"$dir/warehouse10x"
      // regeneration guard checks ALL seven tables: an interrupted run that
      // wrote lineitem but not the rest must regenerate, not be half-reused
      val whTables = Seq("lineitem", "orders", "customer", "part", "supplier",
        "nation", "region")
      if (!whTables.forall(t => new java.io.File(s"$whDir/$t.parquet").exists())) {
        println(s"[probe] generating 10x warehouse under $whDir")
        genWarehouse(spark, srcDir, whDir)
      }
      for ((label, d) <- Seq(("sf0.1", srcDir), ("10x", whDir));
           q <- Seq("q124_tpch_q3", "q127_tpch_q5", "q134_tpch_q18",
             "q151_tpch_q9", "q154_tpch_q13", "q159_tpch_q21")) {
        time(s"$label $q") { graft.SparkEntry.queries(q)(spark, d).count() }
      }
    }

    if (!skewOnly) seqSection()

    // the pathology for the record: fixed k=8 at 10x corpus — cluster size
    // 10x, within-cluster pairs 100x
    val emb10 = embOf(dir)
    val e10 = emb10.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val cents8 = e10.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    time("10x q102_semdedup(k=8)") {
      Similarity.semDedup(emb10, cents8, threshold = 0.4).count()
    }
    // AQE skew-split mitigation on the SAME pathology (VERDICT r8 Next
    // #6): with k=8 the cluster self-join has 8 keys across 32 shuffle
    // partitions — a handful of giant tasks serialize the quadratic while
    // most cores idle. AQE's OptimizeSkewedJoin splits any shuffle
    // partition larger than factor×median (and the advisory size) into
    // sub-chunks joined against replicas of the other side — the total
    // pair work is unchanged, but it spreads over all cores. Thresholds
    // here are sized to THIS data's MB-scale partitions (defaults are
    // 256 MB — cluster-sized); broadcast is disabled so the join stays a
    // splittable sort-merge, exactly the 100 TB regime where no side
    // broadcasts.
    // the pair join in isolation (semDedup's component closure
    // materializes intermediates, hiding the join from the final plan),
    // with broadcast off so the join shape is the 100 TB one — first under
    // default AQE thresholds (no split), then with the thresholds sized to
    // this data
    def pairCount() = Similarity.semDedupPairs(
      Similarity.semDedupAssign(emb10, cents8), 0.4).groupBy().count()
    val skewConfs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072")
    val savedConfs = skewConfs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    time("10x semdedup pair join, default thresholds") {
      pairCount().collect().head.getLong(0)
    }
    skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    // fresh frame per rep — re-collecting one Dataset would reuse its AQE
    // query stages and time shuffle-file replay, not the join
    time("10x semdedup pair join, +skew-split") {
      pairCount().collect().head.getLong(0)
    }
    // the executed AQE plan must carry the skew markers — evidence the
    // mitigation actually engaged, not just that the confs were set
    val cdf = pairCount()
    cdf.collect()
    val plan = cdf.queryExecution.executedPlan.toString
    println(s"[probe] skew-split engaged in pair-join plan: " +
      s"${plan.contains("skew=true")} (AQEShuffleRead skewed: " +
      s"${plan.contains("AQEShuffleRead skewed")})")
    time("10x q102_semdedup(k=8) +skew-split") {
      Similarity.semDedup(emb10, cents8, threshold = 0.4).count()
    }
    savedConfs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.stop()
  }
}
