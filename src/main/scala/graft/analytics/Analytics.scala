package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize.MatOps
import graft.core.Tables

/** Core analytic query surface (scan/agg/join/window/as-of/session).
  *
  * Numeric policy: money/measure doubles are cast to exact DECIMAL before
  * aggregation so sums are order-independent, then cast to DOUBLE at the
  * output edge — bit-identical to a DuckDB oracle doing the same, with no
  * rounding fudge. Scale notes per operator in SURVEY.md §5.
  */
object Analytics {

  /** Exact-sum helper: SUM(CAST(c AS DECIMAL(18,2))) presented as DOUBLE. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Pricing-summary scan+aggregate (TPC-H Q1 shape).
    *
    * One parquet scan with the date filter pushed down, partial (map-side)
    * aggregation on 6 groups — at 100 TB this is scan-bound, zero skew.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    // guarded spread: the chained-decimal partial aggregation otherwise
    // runs at the scan's split count (one task per row group locally);
    // an exact no-op once the scan reaches session width on its own
    val l = graft.core.Adaptive.spreadScan(spark,
      Tables.lineitem(spark, dir), dir, "lineitem")
    // Tight precisions keep the chained products exact (≤ 38 digits) in
    // both Spark and DuckDB; the intermediate cast to DECIMAL(20,4)
    // forces DuckDB onto int128 arithmetic for the second multiply.
    val disc  = col("l_discount").cast("decimal(4,2)")
    val tax   = col("l_tax").cast("decimal(4,2)")
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val discPrice = (price * (lit(1) - disc)).cast("decimal(20,4)")
    l.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(discPrice * (lit(1) + tax)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Join + aggregate + global top-k (TPC-H Q3 shape).
    *
    * customer is pre-filtered and broadcast; orders⋈lineitem shuffles on
    * the join key once; global top-10 runs as TakeOrderedAndProject (no
    * full sort).
    */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-03-15"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1995-03-15"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val revenue = col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1) - col("l_discount").cast("decimal(8,6)"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("revenue")
      )
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Multi-way dim/fact join + aggregate (TPC-H Q5 shape).
    *
    * All dimension tables broadcast; the only shuffles are
    * lineitem⋈orders and the final 25-group aggregate.
    */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust   = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val supp   = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val revenue = col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1) - col("l_discount").cast("decimal(8,6)"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Per-event customer-spend enrichment through [[graft.core.Skew
    * .saltedJoin]] — the HOT-KEY join entry: events concentrate on ~15
    * distinct user_ids (every key is hot — a plain key-partitioned join
    * caps its parallelism at the distinct-key count and serializes each
    * hot key into one task), so the fact side salts each key over 16
    * sub-keys and the per-customer dim replicates across the salt
    * space. Semantically identical to the plain inner join — the entry
    * hash-checks against the unsalted oracle — and the plan audit pins
    * the salt fan-out (dim-side explode, join keys extended with the
    * salt). The dim aggregation sums in DECIMAL so the enrichment value
    * is addition-order-independent.
    */
  def saltedEnrich(spark: SparkSession, dir: String): DataFrame = {
    // guarded spreads: the salt projection (fact) and the dim partial
    // aggregation otherwise run at the scans' split counts (one task
    // per row group locally) — no-op at production layouts
    val ev = graft.core.Adaptive.spreadScan(spark,
      Tables.events(spark, dir), dir, "events")
      .select("event_id", "user_id", "value")
    val dim = graft.core.Adaptive.spreadScan(spark,
      Tables.orders(spark, dir), dir, "orders")
      .groupBy(col("o_custkey").as("user_id"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .as("cust_spend"))
    graft.core.Skew.saltedJoin(ev, dim, "user_id", salt = 16)
      .select("event_id", "user_id", "value", "cust_spend")
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive
  }

  /** Top-N rows per group via a rank window — partitioned on the group key
    * only, so it is a single shuffle and no global sort.
    */
  def topKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3 && col("o_custkey") < 100)
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** As-of join: for each purchase event, the most recent prior (strictly
    * earlier) `click` event of the same user.
    *
    * Expressed as union + window (one shuffle on user_id) rather than an
    * inequality join, which would be O(n·m) per key at 100 TB. DuckDB's
    * native ASOF JOIN is the oracle.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    // Timestamps are compared at µs precision: DuckDB's TIMESTAMP truncates
    // the parquet ns values, so the oracle can't see below the µs.
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"), col("event_type"))
    val tagged = ev
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("is_click", (col("event_type") === "click").cast("int"))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_click").asc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lastClick = last(when(col("is_click") === 1, col("event_id")), ignoreNulls = true)
    tagged
      .withColumn("click_event_id", lastClick.over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        col("click_event_id")
      )
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Gap-based sessionization (30-minute inactivity) over the event log:
    * one shuffle on user_id, lag + running sum inside the partition.
    * The streaming twin is graft.streaming.EventSessions.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000L
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"), col("value"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val newSession = when(
      col("ts_us") - lag(col("ts_us"), 1).over(byUser) > lit(gapUs) ||
        lag(col("ts_us"), 1).over(byUser).isNull,
      1
    ).otherwise(0)
    ev.withColumn("new_s", newSession)
      .withColumn("session_nr", sum(col("new_s")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_nr"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value")
      )
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Tumbling-window hourly aggregation (batch twin of
    * graft.streaming.HourlyCounts). ts is epoch-nanos; hour bucket is
    * integer division, so it matches DuckDB's date_trunc exactly.
    */
  def windowHourly(spark: SparkSession, dir: String): DataFrame =
    // guarded spread: the pane partial aggregation otherwise runs at
    // the scan's split count (see Adaptive); no-op at scale
    windowHourlyOf(graft.core.Adaptive.spreadScan(spark,
      Tables.events(spark, dir), dir, "events"))

  /** `windowHourly` over an arbitrary events frame (the `*Of` variant
    * the sliding/cohort rollups already have).
    */
  def windowHourlyOf(events: DataFrame): DataFrame =
    // Integer division: epoch-ns (~1.7e18) exceeds double's exact range,
    // so a float divide + floor would corrupt the bucket boundary.
    events.groupBy(
        expr("(ts div 3600000000000) * 3600000000000").as("hour_ns"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")
      )
      .orderBy(col("hour_ns"), col("event_type"))

  /** Exact distributed percentiles (p50/p90/p99 of the event value per
    * type) plus a decimal-summed total — the latency/size distribution
    * rollup every ops surface of the reference would issue against its
    * job tables.
    *
    * Spark's exact `percentile` aggregates a per-group (value → count)
    * map: memory scales with DISTINCT values per group, partial
    * aggregation still applies, and the three quantiles share one
    * buffer. That is the right tool up to ~1e8 distinct values per
    * group; past it (100 TB raw metrics) the same query swaps in
    * `approx_percentile` with a documented rank-error bound — the
    * operator contract (this oracle row) pins the exact form. The sum
    * rides a DECIMAL cast: double summation is shuffle-order-dependent
    * and would break hash verification.
    */
  /** Q2-style argmin join (decorrelated): for each part, the supplier
    * offering it at the lowest cost — the classic correlated subquery
    * `WHERE cost = (SELECT MIN(cost) ... WHERE partkey = outer)`
    * rewritten as a partial-agg min per key + equi-join back, the shape
    * Catalyst's decorrelation produces and the only one that scales (the
    * correlated form re-scans per outer row). Ties break on the lowest
    * supplier key via one lexicographic struct-min — argmin WITHOUT a
    * second join or window (same move as Indexing.invertedIndex).
    */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice").cast("decimal(12,2)").as("cost"))
    li.groupBy("l_partkey")
      .agg(min(struct(col("cost"), col("l_suppkey"))).as("best"),
        count(lit(1)).as("n_offers"))
      .select(col("l_partkey").as("partkey"),
        col("best.l_suppkey").as("suppkey"),
        col("best.cost").cast("double").as("min_cost"),
        col("n_offers"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Sliding-window event rollup (1 h window, 15 min slide): each event
    * belongs to exactly 4 overlapping windows, generated MAP-SIDE as 4
    * narrow (win_ns, user, value) rows — never a window self-join or a
    * range join. One partial-agg shuffle keyed by window start; output
    * rows are bounded by wall-clock-range/slide, not by corpus size, so
    * the terminal sort is a dimension-rollup sort. The batch twin of a
    * `window(ts, "1 hour", "15 minutes")` streaming aggregation, kept in
    * integer ns arithmetic (epoch-ns exceeds double's exact range — a
    * float divide would corrupt bucket boundaries; see windowHourly).
    */
  def windowSliding(spark: SparkSession, dir: String): DataFrame =
    // guarded spread: the membership explode + pane partial aggregation
    // otherwise run at the scan's split count; no-op at scale
    windowSlidingOf(graft.core.Adaptive.spreadScan(spark,
      Tables.events(spark, dir), dir, "events"))

  /** `windowSliding` over an arbitrary events frame with configurable
    * geometry. `windowNs` must be a multiple of `slideNs` (that multiple
    * is the per-event membership count).
    */
  def windowSlidingOf(events: DataFrame, windowNs: Long = 3600000000000L,
      slideNs: Long = 900000000000L): DataFrame = {
    // windowNs >= slideNs keeps memberships >= 1: a zero/negative window
    // would make the two-arg sequence() below generate a DESCENDING
    // range and fan events into phantom future windows (the same
    // sequence(0, -1) trap mmChunk guards against)
    require(slideNs > 0 && windowNs >= slideNs && windowNs % slideNs == 0,
      s"window ($windowNs ns) must be a positive multiple of slide ($slideNs ns)")
    val memberships = windowNs / slideNs
    // bucket by `div`, which truncates toward zero EXACTLY like the
    // oracle's `//` (verified: DuckDB -5 // 2 = -2) — cross-engine
    // parity holds at every input. Caveat this implies: pre-epoch
    // (negative) timestamps bucket toward zero, unlike the calendar
    // floor Spark's streaming window() uses; event data predating 1970
    // would need a floor variant on BOTH sides
    events
      .select(col("ts"), col("user_id"), col("value"),
        explode(expr(s"sequence(0, ${memberships - 1}L)")).as("k"))
      .select(expr(s"((ts div $slideNs) - k) * $slideNs").as("win_ns"),
        col("user_id"), col("value"))
      .groupBy("win_ns")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("win_ns")
  }

  /** Ordered-funnel conversion: view → click-after-view →
    * purchase-after-click, each step the user's EARLIEST qualifying
    * event strictly after the previous step (the standard product
    * funnel). Three per-user partial-agg passes chained by user-keyed
    * joins — each join's build side is the (shrinking) survivor frame,
    * and nothing ever compares event pairs row-by-row. One row per step
    * with the user count and the conversion rate vs step 1 (ppm,
    * integer-exact via the broadcast 1-row base).
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame =
    // compare at µs, the precision both engines share: the raw ts carries
    // sub-µs residues that DuckDB truncates away, so a same-user pair
    // inside one microsecond would order differently under full-ns
    // comparison and flip the hash gate (the same rule asof_join
    // follows — see the verify skill's "compare at µs")
    funnelStepsFor(
      Tables.events(spark, dir).withColumn("ts", expr("ts div 1000")),
      Seq("view", "click", "purchase"))

  /** `funnelSteps` over an arbitrary events frame and an arbitrary
    * ordered step chain: step i+1 is the user's earliest `steps(i+1)`
    * event STRICTLY after their step-i time. Each stage is a per-user
    * min partial agg joined to the shrinking survivor frame, folded over
    * the chain — an n-step funnel is n-1 narrow user-keyed joins, never
    * an event-pair comparison.
    */
  def funnelStepsFor(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelStepsFor needs at least one step")
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    // each survivor frame feeds TWO consumers (its own count row and the
    // next stage's build side): checkpointing materializes it once, so
    // an n-step funnel scans the events n times — without it every
    // stage's full lineage re-executes per consumer, O(n²) scans of a
    // 100 TB table
    val stages = steps.tail.scanLeft(
      ev.filter(col("event_type") === steps.head)
        .groupBy("user_id").agg(min(col("ts")).as("t_prev"))
        .materializeOnce(eager = true)) { (prev, et) =>
      ev.filter(col("event_type") === et)
        .join(prev.select(col("user_id"), col("t_prev")), "user_id")
        .filter(col("ts") > col("t_prev"))
        .groupBy("user_id").agg(min(col("ts")).as("t_prev"))
        .materializeOnce(eager = true)
    }
    val base = stages.head.agg(count(lit(1)).as("n1"))
    val names = steps.tail.scanLeft(steps.head)((acc, s) => s"$acc>$s")
    stages.zip(names).zipWithIndex.map { case ((frame, name), i) =>
      frame.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_.unionAll(_))
      .crossJoin(broadcast(base))
      // greatest(n1, 1): an events slice with zero step-1 users must
      // report a 0-conversion funnel, not raise DIVIDE_BY_ZERO (ANSI)
      .select(col("step"), col("step_name"), col("n_users"),
        expr("CAST((1000000 * n_users) DIV greatest(n1, 1L) AS BIGINT)").as("conv_ppm"))
      .orderBy("step")
  }

  /** Weekly cohort-retention matrix: users grouped by first-active week,
    * counted per week offset — the activation dashboard every
    * events-bearing product ships. Two user-keyed partial-agg passes
    * (first-seen week, then distinct (user, cohort, offset)) and one
    * rollup; output is bounded by weeks², never by corpus size.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetentionOf(Tables.events(spark, dir))

  /** `cohortRetention` over an arbitrary events frame. */
  def cohortRetentionOf(events: DataFrame,
      bucketNs: Long = 604800000000000L): DataFrame = {
    require(bucketNs > 0, s"cohortRetentionOf needs a positive bucket, got $bucketNs")
    // truncation bucketing matches the oracle's // exactly at every
    // input (see windowSlidingOf's caveat on pre-epoch timestamps)
    val e = events
      .select(col("user_id"), expr(s"ts div $bucketNs").as("week"))
    val first = e.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    e.join(first, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  def percentileStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("ps"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("event_type"), col("n"),
        round(element_at(col("ps"), 1), 6).as("p50"),
        round(element_at(col("ps"), 2), 6).as("p90"),
        round(element_at(col("ps"), 3), 6).as("p99"),
        col("total_value"))
      .orderBy("event_type")
  }
}
