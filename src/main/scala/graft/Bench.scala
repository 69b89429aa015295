package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one line of JSON with per-query wall seconds and
  * shuffle bytes.
  *
  * Queries are materialized through the `noop` sink so the full plan
  * executes (a bare count() would let Spark prune projection-only
  * expressions such as hash computations).
  *
  * Shuffle write bytes come from `tools.QueryProfile`'s listener, one
  * window per query: wall seconds on this box swing 3-5× with JIT/GC,
  * but shuffle volume is plan-determined — so a future regression is
  * attributable (bytes moved → plan change; bytes flat → timing noise).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.core.Graft.builder(cpus.toInt)
      // dev: SPARK_GRAFT_EVENTLOG=/some/dir enables stage-level tracing
      .config("spark.eventLog.enabled",
        sys.env.contains("SPARK_GRAFT_EVENTLOG").toString)
      .config("spark.eventLog.dir",
        sys.env.getOrElse("SPARK_GRAFT_EVENTLOG", "/tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM + parquet footers so timings measure the plans; use
    // the same noop-sink path as the timed loop so the sink-side codegen
    // is warm too (a count() warmup leaves the first timed query paying
    // it). The cluster query at sf0.001 JIT-compiles the heavy paths the
    // alphabetically-early dedup queries hit (native set expressions,
    // banding, union-find, label joins) — without it the first heavy
    // query absorbs tens of seconds of cold-JIT cost, swamping its
    // actual plan time.
    // optional comma-separated subset for targeted timing runs — read
    // BEFORE warmup and prebuild so a targeted run of one cheap query
    // pays neither the index builds nor the heavy JIT warm-ups of
    // families it doesn't time
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // true when the surviving subset contains any of the given queries
    // (no subset = full run = everything wanted)
    def anyWanted(deps: String*): Boolean = only.forall(deps.exists(_))
    // warmup data: the smallest sibling scale factor of the configured
    // root if present, else the configured root itself — never a
    // hardcoded absolute path (Bench must start on any layout)
    val warmDir = {
      val parent = new java.io.File(sfDir).getParentFile
      val small = if (parent == null) null else new java.io.File(parent, "sf0.001")
      if (small != null && small.isDirectory) Some(small.getPath)
      else if (new java.io.File(sfDir).isDirectory) Some(sfDir)
      else { System.err.println(s"warmup skipped: no data at $sfDir"); None }
    }
    warmDir.foreach { wd =>
      // q1 warms at the timed dir (parquet footers for the timed scans);
      // the heavy dedup path warms at the small dir (pure JIT warmup)
      val q1Dir = if (new java.io.File(sfDir).isDirectory) sfDir else wd
      SparkEntry.queries.get("q1_agg")
        .foreach(f => f(spark, q1Dir).write.format("noop").mode("overwrite").save())
      // each heavy warm-up runs only when (a) some timed query actually
      // exercises its JIT'd expression family and (b) a SMALL sibling
      // dir exists — at wd == sfDir the "warm-up" would be a full-scale
      // run (bitext_mine's would even build the full IVF-PQ index),
      // costing more than the cold-JIT it saves
      val smallWd = wd != sfDir
      if (smallWd && anyWanted("dedup_cluster", "dedup_cluster_best",
          "dedup_minhash", "dedup_incremental", "dedup_incremental_indexed",
          "curation_report", "ngram_jaccard", "simhash_near", "para_dedup",
          "span_dedup", "span_trim", "span_trim_apply",
          "span_trim_incremental", "dedup_threshold_stats"))
        SparkEntry.queries.get("dedup_cluster")
          .foreach(f => f(spark, wd).write.format("noop").mode("overwrite").save())
      // the vector hot paths (vec_dot/vec_cos6 loops, vec_sum Lloyd
      // rounds, window top-k) JIT separately from the dedup set — warm
      // them at the small dir or the alphabetically-FIRST timed query
      // (ann_ivf) absorbs the whole vector-JIT cost as plan time
      if (smallWd && anyWanted("ann_ivf", "ann_ivf_pq", "ann_ivf_pq_indexed",
          "ann_lsh", "ann_exact_rerank", "ann_adc_rerank", "cosine_topk",
          "knn_classify", "probe_recall_stats",
          "dedup_embedding", "dedup_embedding_lsh", "dedup_embedding_ann",
          "dedup_embedding_ann_indexed", "hard_negatives",
          "hard_negatives_indexed", "triplet_mine", "triplet_mine_indexed",
          "bitext_mine", "vindex_stats", "vindex_sync", "embed_drift_stats",
          "embed_centroid_stats"))
        SparkEntry.queries.get("ann_ivf")
          .foreach(f => f(spark, wd).write.format("noop").mode("overwrite").save())
      // the mining path JITs yet another expression set (the fused
      // quantized-cosine scorer, top-k-sum aggs, struct argmaxes);
      // measured isolated at sf1 its 3-run spread was [62.6, 38.5,
      // 19.2] s with a byte-identical plan — pure warm-up cost that
      // belongs here, not in the timed reading. Builds the small dir's
      // IVF-PQ index as a side effect, hence the strict smallWd gate.
      if (smallWd && anyWanted("bitext_mine", "hard_negatives_indexed",
          "triplet_mine_indexed", "ann_exact_rerank", "ann_adc_rerank"))
        SparkEntry.queries.get("bitext_mine")
          .foreach(f => f(spark, wd).write.format("noop").mode("overwrite").save())
    }
    // pre-build the persisted index artifacts OUTSIDE the timed loop:
    // the *_indexed entries exist to prove load-beats-recompute, but
    // build-if-missing fires inside whichever indexed entry runs first
    // (alphabetical order), so at sf1 the committed artifact recorded
    // the build, not the load. Each store's ensure* is idempotent:
    // fresh indexes cost one fingerprint stat here; stale ones rebuild
    // and the cost lands on its own metric line instead of a query's.
    // Order matters: the decision table's build loads the cluster index.
    // Each prebuild is skipped when no surviving query depends on it.
    val prebuilt: Seq[(String, Double)] =
      if (!new java.io.File(sfDir).isDirectory) Seq.empty
      else Seq[(String, Boolean, () => Any)](
        ("minhash",
          anyWanted("dedup_incremental_indexed", "mhindex_stats"),
          () => graft.dedup.MinhashIndexStore.ensureMinhashIndex(spark, sfDir)),
        ("mhpairs",
          anyWanted("dedup_cluster", "dedup_cluster_best", "curation_report",
            "dedup_cluster_best_indexed", "dedup_cluster_stats",
            "curation_report_indexed", "gate_funnel", "source_reputation",
            "dedup_threshold_stats"),
          () => graft.dedup.Dedup.ensureVerifiedPairs(spark, sfDir)),
        ("cluster",
          anyWanted("dedup_cluster_best_indexed", "dedup_cluster_stats",
            "curation_report_indexed", "gate_funnel", "source_reputation"),
          () => graft.dedup.MinhashIndexStore.ensureClusterLabels(spark, sfDir)),
        ("decisions",
          anyWanted("curation_report_indexed", "gate_funnel", "source_reputation"),
          () => graft.curate.DecisionStore.ensureDecisions(spark, sfDir)),
        ("ivfpq",
          anyWanted("ann_ivf_pq_indexed", "vindex_stats", "ann_exact_rerank",
            "ann_adc_rerank", "dedup_embedding_ann_indexed", "bitext_mine",
            "hard_negatives_indexed", "triplet_mine_indexed",
            "probe_recall_stats"),
          () => graft.sim.VectorIndexStore.ensureIvfPq(spark, sfDir)),
        ("vsync",
          anyWanted("vindex_sync", "embed_drift_stats"),
          () => graft.sim.VectorIndexStore.ensureSyncedVindex(spark, sfDir)),
        ("spaninc",
          anyWanted("span_trim_incremental"),
          () => graft.dedup.SpanIndexStore.ensureSpanIndex(spark, sfDir)),
        ("chunkstore",
          anyWanted("mm_chunk_cdc_incremental"),
          () => graft.multimodal.ChunkStore.ensureChunkStore(spark, sfDir)),
        ("kmvstates",
          anyWanted("kmv_overlap_indexed"),
          () => graft.text.TextOps.ensureKmvStates(spark, sfDir)),
        ("novelty",
          anyWanted("crawl_novelty"),
          () => graft.streaming.Streams.ensureNoveltyStates(spark, sfDir)),
        ("bpedrift",
          anyWanted("model_drift_stats"),
          () => graft.text.Drift.ensureDriftModel(spark, sfDir)),
        ("lblinc",
          anyWanted("dedup_cluster_incremental"),
          () => graft.dedup.MinhashIndexStore.ensureIncrementalLabels(spark, sfDir)),
        ("searchidx",
          anyWanted("inverted_index_indexed", "bm25_rank_indexed",
            "token_freq_indexed", "tfidf_topk_indexed"),
          () => graft.index.SearchIndexStore.ensureSearchIndex(spark, sfDir)),
        ("searchsync",
          anyWanted("search_index_sync"),
          () => graft.index.SearchIndexStore.ensureSyncedIndex(spark, sfDir)),
        ("rollup",
          anyWanted("window_hourly_incremental", "window_sliding_incremental",
            "cohort_retention_incremental"),
          () => graft.analytics.RollupStore.ensureRollup(spark, sfDir)),
        ("bpe",
          anyWanted("bpe_learn", "bpe_apply", "shard_pack_bpe", "epoch_plan_bpe",
            "fertility_stats"),
          () => graft.text.TextOps.ensureBpeModel(spark, sfDir))
      ).collect { case (k, true, f) =>
        val t0 = System.nanoTime()
        try f() catch {
          case e: Throwable =>
            System.err.println(s"index prebuild $k failed: ${e.getClass.getSimpleName}")
        }
        k -> (System.nanoTime() - t0) / 1e9
      }
    // committed-artifact protection: the three bench_*_last.json files
    // are the round's FULL-surface attribution baselines (tracked in
    // git since r16) — a targeted SPARK_GRAFT_ONLY run must not clobber
    // them, so subset runs write *.subset.json siblings (gitignored)
    val lastSuffix = if (only.isDefined) ".subset.json" else ".json"
    // box-health sampling: two rounds running, the committed number of
    // record was wall-noise-bound (steal/contention windows on this
    // box) and the defense lived in prose — sample /proc/stat and
    // /proc/loadavg around the run so every BENCH artifact carries its
    // own degraded-box evidence (steal share, sys/user ratio, load)
    def cpuSample(): Option[Array[Long]] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu "))
          .map(_.trim.split("\\s+").drop(1).map(_.toLong))
        finally src.close()
      } catch { case _: Throwable => None }
    def load1(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    val cpu0 = cpuSample()
    val load1Pre = load1()
    val listener = new graft.tools.QueryProfile.Listener
    spark.sparkContext.addSparkListener(listener)

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], Long, Boolean) = {
      listener.reset()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      val dt = (System.nanoTime() - t0) / 1e9
      // the save is synchronous but listener delivery is not: wait for
      // bus quiescence so stages attribute to the query that ran them.
      // A capped (non-quiescent) drain means this window — and the next
      // one — may cross-attribute; record it so the reading isn't
      // presented as exact.
      val quiesced = listener.drain()
      val db = listener.shuffleWriteBytes
      // queries are independent: release the finished one's blocks
      // before timing the next
      graft.tools.QueryProfile.releaseCaches(spark)
      System.gc()
      (dt, err, db, quiesced)
    }

    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val (dt, err, db, quiesced) = runOnce(fn)
        (name, dt, err, db, quiesced)
      }
    // single-box readings for the heavy tail swing 3-5× with box
    // contention (two rounds lost attribution time to phantom
    // regressions) — re-run queries slower than the threshold twice
    // more and report the per-query MEDIAN of 3. Shuffle bytes keep the
    // first pass's delta (plan-determined, rerun-invariant). 0 disables
    // (e.g. very large SF runs where 3× the tail is unaffordable).
    // Default 2 s: at sf0.1 the ≥2 s entries carry ~80% of the total,
    // so medianing them bounds how much one contention window can move
    // the committed number (the 5 s default left all but 9 entries
    // single-sampled and two rounds' records noise-bound).
    val medianSec = sys.env.get("SPARK_GRAFT_MEDIAN_SEC").map(_.toDouble).getOrElse(2.0)
    val rerunTimes: Map[String, Seq[Double]] =
      if (medianSec <= 0) Map.empty
      else firstPass.collect { case (name, dt, None, _, _) if dt > medianSec =>
        val more = Seq.fill(2)(runOnce(SparkEntry.queries(name))._1)
        name -> (dt +: more)
      }.toMap
    val results = firstPass.map { case (name, dt, err, db, quiesced) =>
      val t = rerunTimes.get(name).map(_.sorted.apply(1)).getOrElse(dt)
      (name, t, err, db, quiesced)
    }
    // a failed query must surface as an error, never as a ~0s "win".
    // Seconds are rounded to 2 decimals: the harness that collects this
    // output keeps only the LAST ~2000 characters of the log, so the
    // final JSON line must stay comfortably inside that window —
    // full-precision doubles plus the shuffle-bytes map overflowed it
    // once and the run was recorded as unparseable. (Single-box timings
    // swing 3-5× run-to-run anyway, so the dropped decimals were noise.)
    def s2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // the queries map stays strictly numeric — error strings inside it
    // once broke the harness's JSON parse and destroyed a whole round's
    // attribution. Failures go in their own "errors" object instead.
    val qs = results.collect {
      case (k, v, None, _, _) => "\"" + k + "\":" + s2(v)
    }.mkString("{", ",", "}")
    // escape the error value: today it's getSimpleName (no specials),
    // but a future switch to getMessage must not be able to reintroduce
    // the unparseable-JSON failure mode via quotes/newlines
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c    => c.toString
    } + "\""
    val errs = results.collect {
      case (k, _, Some(e), _, _) => jstr(k) + ":" + jstr(e)
    }.mkString("{", ",", "}")
    val sb = results.map { case (k, _, _, b, _) => "\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None, _, _) => v }.sum
    val nErr = results.count(_._3.isDefined)
    // a capped drain taints its own delta AND the following query's
    // (leftover stages land in the next window)
    val tainted = results.map(_._1).zipWithIndex.collect {
      case (k, i) if !results(i)._5 || (i > 0 && !results(i - 1)._5) => k
    }
    // shuffle bytes go on their OWN line (and to a local file) so the
    // plan-change detector survives without bloating the tail-parsed line
    val taintJson = tainted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val shuffleLine =
      s"""{"metric":"shuffle_bytes","queries":$sb,"suspect":$taintJson,"sf":"$sfDir"}"""
    println(shuffleLine)
    try {
      val w = new java.io.PrintWriter("bench_shuffle_last" + lastSuffix)
      try w.println(shuffleLine) finally w.close()
    } catch { case _: Throwable => () } // best-effort: cwd may be read-only
    // per-run samples for the median-of-3 queries — own line + file so
    // round-over-round attribution can see the spread without bloating
    // the tail-parsed total line
    if (rerunTimes.nonEmpty) {
      val vr = rerunTimes.toSeq.sortBy(_._1).map { case (k, ts) =>
        "\"" + k + "\":[" + ts.map(s2).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val varianceLine =
        s"""{"metric":"bench_variance","median_threshold_sec":${s2(medianSec)},"runs":$vr,"sf":"$sfDir"}"""
      println(varianceLine)
      try {
        val w = new java.io.PrintWriter("bench_variance_last" + lastSuffix)
        try w.println(varianceLine) finally w.close()
      } catch { case _: Throwable => () }
    }
    // the harness tail-parses ONLY the final line from a ~2000-char log
    // window. At 93+ entries the per-query map no longer fits (round 10
    // was recorded unparseable), so the map moves to its own earlier line
    // plus a committed local file, and the final line carries just the
    // fixed-size totals — it can never outgrow the window again no matter
    // how many queries the surface adds.
    val timesLine =
      s"""{"metric":"query_times","queries":$qs,"sf":"$sfDir"}"""
    println(timesLine)
    try {
      val w = new java.io.PrintWriter("bench_times_last" + lastSuffix)
      try w.println(timesLine) finally w.close()
    } catch { case _: Throwable => () }
    // index pre-build cost on its own line: a fresh artifact reads ~0 s,
    // a stale one shows what one crawl's index (re)build costs — never
    // attributed to the first indexed query anymore
    val pb = prebuilt.map { case (k, v) => "\"" + k + "\":" + s2(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"index_build","builds":$pb,"sf":"$sfDir"}""")
    // errors on their OWN line (only when present): long exception texts
    // must never push the fixed-size final line out of the harness's
    // ~2000-char tail window
    if (nErr > 0) println(s"""{"metric":"errors","queries":$errs,"sf":"$sfDir"}""")
    // box health over the whole run: /proc/stat deltas (steal share,
    // sys/user ratio, iowait share in ppm) + 1-min load before/after.
    // -1 = unreadable (non-Linux). The compact object ALSO rides the
    // final total line (the only line the driver keeps), so a committed
    // BENCH artifact is interpretable without narrative: high steal or
    // sys/user ≫ normal marks the number wall-noise-bound by evidence.
    val box: String = {
      val (stealPpm, sysUserPpm, iowaitPpm) = (cpu0, cpuSample()) match {
        case (Some(a), Some(b)) if a.length >= 8 && b.length >= 8 =>
          val d = Array.tabulate(8)(i => math.max(0L, b(i) - a(i)))
          val tot = math.max(1L, d.sum)
          (1000000L * d(7) / tot,
            if (d(0) > 0) 1000000L * d(2) / d(0) else -1L,
            1000000L * d(4) / tot)
        case _ => (-1L, -1L, -1L)
      }
      s"""{"steal_ppm":$stealPpm,"sys_user_ppm":$sysUserPpm,"iowait_ppm":$iowaitPpm,"load1_pre":${s2(load1Pre)},"load1_post":${s2(load1())},"cores":${Runtime.getRuntime.availableProcessors()}}"""
    }
    println(s"""{"metric":"box_health","box":$box,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":${s2(total)},"unit":"sec","n":${results.size},"n_errors":$nErr,"box":$box,"sf":"$sfDir"}""")
    spark.stop()
  }
}
