package graft

/** Plan-shape regression gate (SURVEY §5): a query that silently picks
  * up a cartesian product or an all-pairs nested-loop join would still
  * pass row-level correctness at test scale and then die at 100 TB —
  * so the scale-killer shapes fail the build instead.
  */
class PlanAuditSpec extends SparkSpec {

  /** cosine_topk is the DECLARED brute-force baseline: its 20-row query
    * side broadcasts into a nested-loop by construction. Everything else
    * must plan equi-joins.
    *
    * dedup_embedding is the second declared baseline, quadratic in
    * COMPUTE rather than plan shape: exact near-dup pairs at cosine
    * ≥ 0.35, where sign-LSH provably cannot prune (ρ ≈ 0.70 — see the
    * operator's Scaladoc), executed as a blocked grid that shuffles
    * O(n·B) rows and never plans a BNLJ/cartesian (so it stays subject
    * to the shape audits above). Its O(n²) contract is guarded by a
    * loud construction-time row bound, and the PRODUCTION path at real
    * near-dup thresholds is `dedup_embedding_lsh` (cos ≥ 0.8,
    * O(candidates) work). The test below pins all three facts so the
    * posture cannot silently erode.
    */
  // knn_classify is DEFINED on the exact top-5 (the vote is the eval
  // an ANN path is recall-pinned against), so it rides cosine_topk's
  // declared baseline join; swapping in annIvfPqFromIndex is the scale
  // path and changes recall, not the operator shape
  private val bruteForceBaselines = Set("cosine_topk", "knn_classify")

  test("dedup_embedding declares its quadratic baseline posture loudly") {
    // 1. the row-bound guard fails at construction, naming the
    //    production alternative — a 100 TB caller gets an error, not a
    //    multi-day job
    val err = intercept[IllegalArgumentException] {
      graft.dedup.Dedup.dedupEmbeddingExact(spark, sf, maxRows = 1)
    }
    assert(err.getMessage.contains("O(n²)"), err.getMessage)
    assert(err.getMessage.contains("dedupEmbeddingLsh"), err.getMessage)
    // 2. even the quadratic baseline keeps the scale-safe SHAPE: blocked
    //    equi-join grid, no nested loop, no cartesian product
    val plan = SparkEntry.queries("dedup_embedding")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"dedup_embedding lost its blocked-grid shape:\n$plan")
    // 3. the production path exists as a first-class oracle-checked entry
    assert(SparkEntry.queries.contains("dedup_embedding_lsh") &&
      SparkEntry.oracleSql.contains("dedup_embedding_lsh"),
      "production path dedup_embedding_lsh missing from the query registry")
  }

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("no query except the brute-force baseline plans a nested-loop join") {
    SparkEntry.queries.filterNot(q => bruteForceBaselines(q._1)).foreach {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin")
    }
  }

  test("dimension lookups broadcast instead of shuffling the fact side") {
    Seq("q3_topk", "q5_join", "dim_enrich", "search_doc", "ref_resolve",
      "template_assemble").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name lost its broadcast join")
    }
  }

  test("q1 pushes its date filter and column pruning into the parquet scan") {
    val plan = SparkEntry.queries("q1_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q1 filter not pushed to scan:\n$plan")
    // the scan must not read columns the query never touches
    assert(!plan.contains("l_comment"), "q1 scan reads unused column l_comment")
    assert(!plan.contains("l_partkey"), "q1 scan reads unused column l_partkey")
  }

  test("curation ops keep their scale shapes: group-limit pushdown + broadcasts") {
    // stratified sampling must prune rows past K per partition BEFORE the
    // stratum shuffle (WindowGroupLimit Partial under the exchange)
    val sampled = SparkEntry.queries("sample_stratified")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sampled.contains("WindowGroupLimit"),
      "sample_stratified lost its WindowGroupLimit pushdown")
    // the eval gram set and the partition-offset frame must broadcast —
    // the corpus side of both ops is map-only
    Seq("decontaminate", "shard_pack", "domain_mix").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name lost its broadcast join")
    }
  }

  test("relevance ops keep their scale shapes") {
    // bm25: 1-row stats frame broadcasts; top-k is per-partition heads,
    // never a global sort
    val bm25 = SparkEntry.queries("bm25_rank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(bm25.contains("BroadcastHashJoin"), "bm25_rank lost its stats broadcast")
    assert(bm25.contains("TakeOrderedAndProject"), "bm25_rank plans a global sort")
    // tfidf: the rank-<=K filter must prune per partition before the shuffle
    val tfidf = SparkEntry.queries("tfidf_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(tfidf.contains("WindowGroupLimit"),
      "tfidf_topk lost its WindowGroupLimit pushdown")
  }

  test("round-5 ops keep their scale shapes") {
    // facet counting: dims broadcast, the status filter reaches the scan
    val facet = SparkEntry.queries("facet_count")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(facet.contains("BroadcastHashJoin"), "facet_count lost its dim broadcasts")
    // `EqualTo(col,val)` only prints inside PushedFilters — a post-scan
    // Filter node renders as `(o_orderstatus#n = F)` and would fail this
    assert(facet.contains("EqualTo(o_orderstatus,F)"),
      "facet_count status filter not pushed into the scan")
    // outbox stats: the 1-row "now" frame must hash-join (rule rewrite),
    // never nested-loop
    val outbox = SparkEntry.queries("outbox_depth_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(outbox.contains("BroadcastHashJoin"), "outbox_depth_stats lost its now broadcast")
    // the dashboard rollups stay single partial-agg passes: no joins at all
    Seq("sync_status_rollup", "queue_depth_stats").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name grew an unexpected join")
      assert(plan.contains("HashAggregate"), s"$name lost partial aggregation")
    }
  }

  test("round-6 ops keep their scale shapes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // paragraph dedup: the corpus text never shuffles — every exchange
    // carries only narrow rows (ids, chunk indices, hashes, drop lists).
    // AQE's wrapper hides the physical children from collect(), so the
    // structural walk runs with AQE off (the exchange set is identical;
    // AQE only re-plans within it)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val shuffled = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("para_dedup")(spark, sf)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e.output.map(_.name) }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(shuffled.nonEmpty)
    shuffled.foreach { cols =>
      assert(!cols.exists(c => c == "text" || c == "para" || c == "w"),
        s"para_dedup shuffles corpus text: $cols")
    }
    // PII ops are scan-bound projections: zero joins. pii_stats stays
    // zero-exchange; pii_redact carries at most the guarded scan spread
    // (round-robin, exact no-op at production layouts) — its six regex
    // evaluations are the suite's densest per-row projection and ran on
    // one core at local layouts (r18 measurement)
    Seq("pii_stats", "pii_redact").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name grew a join")
    }
    val piiStatsPlan = SparkEntry.queries("pii_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!piiStatsPlan.contains("Exchange"), "pii_stats grew a shuffle")
    val piiRedactPlan = SparkEntry.queries("pii_redact")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(piiRedactPlan.split("Exchange").length <= 2,
      "pii_redact has more than the one guarded spread exchange")
    assert(!piiRedactPlan.contains("hashpartitioning"),
      "pii_redact's spread must be round-robin, not keyed")
    // importance weighting joins build on the vocabulary side and
    // broadcasts the 1-row totals (rule rewrite), never nested-loop
    val iw = SparkEntry.queries("importance_weights")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(iw.contains("BroadcastHashJoin"),
      "importance_weights lost its totals broadcast")
    // seq_pack: no single-partition window over the corpus — windows
    // partition on range-partition ids
    val sp = SparkEntry.queries("seq_pack")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sp.contains("Window"), "seq_pack lost its windowed prefix sum")
  }

  test("shard_pack and seq_pack plan no window partitioned on a constant") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Pmod}
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    val h = new AdaptiveSparkPlanHelper {}
    // pmod(x, 1) is the spelled-out single-partition window; the planner
    // moves it into a projection below the window as an alias
    def constant(e: Expression): Boolean = e.exists {
      case p: Pmod => p.right.foldable && p.right.eval() == 1
      case _ => false
    }
    Seq("shard_pack", "seq_pack").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val windows = h.collect(plan) { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name lost its windowed prefix sum:\n$plan")
      windows.foreach { w =>
        val defs = h.flatMap(w) {
          case p: ProjectExec => p.projectList.collect { case a: Alias => a.exprId -> a.child }
          case _ => Nil
        }.toMap
        val single = w.partitionSpec.isEmpty || w.partitionSpec.exists { e =>
          constant(e) || e.references.exists(a => defs.get(a.exprId).exists(constant))
        }
        assert(!single, s"$name plans a single-partition window:\n$plan")
      }
    }
  }

  test("scan-bound text queries prune the documents scan to used columns") {
    val plan = SparkEntry.queries("text_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("source"), "text_stats scan reads unused column source")
    val plan2 = SparkEntry.queries("doc_rolling_fp")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("n_chars"), "doc_rolling_fp scan reads unused column n_chars")
  }

  test("round-14 serving entries keep their persisted-state shapes") {
    // token_freq_indexed: the token-bucketed postings make the
    // groupBy(token) co-located — the WHOLE plan is exchange-free
    val tf = SparkEntry.queries("token_freq_indexed")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!tf.contains("Exchange"),
      s"token_freq_indexed lost its zero-exchange bucketed shape:\n$tf")
    // the rollup readers serve from the pane-grain state table and must
    // never re-scan raw events
    Seq("window_hourly_incremental", "window_sliding_incremental",
      "cohort_retention_incremental").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("events.parquet"),
        s"$name re-scans raw events instead of the pane store")
    }
    // the postings-serving entries never touch corpus text
    Seq("tfidf_topk_indexed", "inverted_index_indexed").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        s"$name scans corpus text instead of the postings store")
    }
  }

  test("the sync path claims dirty keys below the search-doc aggregate and chunks at session width") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val h = new AdaptiveSparkPlanHelper {}
    val out = java.nio.file.Files.createTempDirectory("graft-sync-plan").toString
    val docs = Pipeline.syncAndIndex(spark, sf, out, chunkSize = 500)
    val plan = docs.queryExecution.executedPlan
    // every aggregate over lineitem groups only the claimed orders
    val aggs = h.collect(plan) {
      case a: ObjectHashAggregateExec if h.find(a) {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.getName == "lineitem.parquet")
        case _ => false
      }.isDefined => a
    }
    assert(aggs.nonEmpty, s"no ObjectHashAggregate over lineitem:\n$plan")
    aggs.foreach { a =>
      assert(h.find(a) {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }.isDefined, s"the dirty-key semi-join is not below the aggregate:\n$plan")
    }
    // the chunk window reads an explicit session-width exchange on the
    // stream column, which AQE cannot coalesce
    val np = spark.sessionState.conf.numShufflePartitions
    val chunked = graft.sinks.Sinks.withChunks(docs, "n_name", "key", 500)
    val cplan = chunked.queryExecution.executedPlan
    val windows = h.collect(cplan) { case w: WindowExec => w }
    assert(windows.size == 1, cplan.toString)
    val below = h.collect(windows.head) { case e: ShuffleExchangeExec => e }.head
    assert(below.shuffleOrigin == REPARTITION_BY_NUM, cplan.toString)
    assert((below.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), n) => a.name == "n_name" && n == np
      case _ => false
    }), cplan.toString)
  }
}
