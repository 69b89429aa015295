package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** End-to-end compositions of the operator library — the two flows a
  * user of the reference actually runs, each as one declarative plan
  * (every stage is an operator documented in SURVEY.md §2; nothing here
  * adds logic, only composition).
  */
object Pipeline {

  /** The reference's main loop — diff sync → extract/enrich → index →
    * chunked batched upsert (sync_service.rs:76-191 → indexing.rs:61-115)
    * — as one batch run: build the wide search documents for every key
    * the diff classifies as new or changed, and write them through the
    * chunked sink as resumable bulk-load units.
    *
    * @return the (key-matched) search documents that were written
    */
  def syncAndIndex(spark: SparkSession, dir: String, outPath: String,
                   chunkSize: Int = 5000,
                   eligible: Option[DataFrame] = None): DataFrame = {
    val diffDirty = graft.sync.Sync.syncDiff(spark, dir)
      .filter(col("status").isin("new", "changed"))
      .select(col("key"))
    // an article held by a worker (non-idle sync state) must not be
    // re-indexed under it — `eligible` is the idle key set from the
    // article-state store; absent means every key is fair game (the
    // reference's trigger_sync without a held set). A semi-join keeps
    // only the diff's key column, so a caller passing the raw state
    // frame can't leak extra columns into the written search docs or
    // double-write on dup keys
    val dirty = eligible.fold(diffDirty)(e =>
      diffDirty.join(e, Seq("key"), "left_semi"))
    // the dirty keys reach `lineitem` below the search-doc aggregate
    // (`Indexing.searchDocFor`), so only new and changed orders are
    // grouped; Spark cannot push a key filter across the aggregate's
    // collect_list on its own. `chunkedWrite` then windows and writes
    // at session width.
    val docs = graft.index.Indexing.searchDocFor(spark, dir, Some(dirty))
    graft.sinks.Sinks.chunkedWrite(docs, "n_name", "key", chunkSize, outPath)
    docs
  }

  /** The admin recovery round-trip (web.rs: `reset_orphaned_articles`
    * then trigger_sync): release every article stuck in a non-idle
    * sync state — the in-place staged-swap write-back
    * (`Maintenance.applyTo`) — then run the sync-and-index cycle gated
    * on the NEW state, so keys the reset just released are indexed in
    * the same round-trip. Returns (rows released, docs indexed). The
    * whole sequence is retry-idempotent: a second run releases 0 rows
    * and rewrites the same chunks (spec-pinned).
    */
  def adminResync(spark: SparkSession, dir: String, statePath: String,
                  outPath: String, nowNs: Long,
                  chunkSize: Int = 5000): (Long, DataFrame) = {
    val released = graft.sync.Maintenance.applyTo(spark, statePath)(
      graft.sync.Maintenance.resetOrphans(_, nowNs))
    val idle = spark.read.parquet(statePath)
      .filter(col("sync_status") === "idle")
      .select("key")
    (released, syncAndIndex(spark, dir, outPath, chunkSize, Some(idle)))
  }

  /** One curation run's DECISION FRAME, pinned once: per candidate doc
    * every gate's verdict, the final `keep`, and the quality gate's raw
    * `score`. Every curation consumer is a projection of it — the
    * survivor manifest (`curateCorpusFrom`) joins the documents to its
    * `keep = 1` ids, the decision report (`curationReportFrom`) drops
    * `score`, the funnel and the per-source scorecard aggregate it, and
    * `curate.DecisionStore` persists it. A session that runs several of
    * them from one `curateGates` value executes each gate's plan —
    * including the expensive minhash+CC dedup chain — and the verdict
    * join exactly once. (The r6 measurement: `curation_report`
    * standalone is ~14 s at sf0.1, ~10 s of it the dedup chain — paying
    * that twice in a composed session was pure waste.)
    */
  final case class CurationGates(decisions: DataFrame)

  /** Build (and pin) a corpus's decision frame — see `CurationGates`. */
  def curateGates(spark: SparkSession, dir: String): CurationGates =
    curateGatesWith(spark, dir, graft.dedup.Dedup.dedupCluster(spark, dir))

  /** `curateGates` with the dedup gate served from the PERSISTED
    * cluster-label index (`MinhashIndexStore.dedupClusterIndexed`)
    * instead of re-running the minhash→banding→CC chain per run — the
    * chain is ~all of the composed report's cost at sf1, and between
    * corpus changes its labels are a loadable artifact. Freshness is
    * fingerprint-checked, so a regenerated corpus rebuilds transparently
    * and the output is value-identical either way (the `curation_report
    * _indexed` entry hash-checks against the SAME oracle as
    * `curation_report`).
    */
  def curateGatesIndexed(spark: SparkSession, dir: String): CurationGates =
    curateGatesWith(spark, dir,
      graft.dedup.MinhashIndexStore.dedupClusterIndexed(spark, dir))

  private def curateGatesWith(spark: SparkSession, dir: String,
      clusterVerdicts: => DataFrame): CurationGates = {
    import graft.core.Materialize.MatOps
    // the gates are independent, and several run DRIVER-SEQUENCED work
    // at construction time (the dedup chain's statistics actions and CC
    // rounds, the lm/rarity model pins and their measured-broadcast
    // counts) — built on one thread those jobs run back-to-back with
    // the session mostly idle. Constructing them from a small thread
    // pool overlaps those independent jobs (the guide's §2.6 move:
    // actions are only sequential because the driver calls them
    // sequentially); each gate's own plan is unchanged. Function
    // registration happens up front so the threads never race the
    // session catalog.
    graft.functions.GraftFunctions.register(spark)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // quality verdict AND raw score off ONE pinned text scan — the
      // report consumes q_keep, the scorecard (sourceReputation)
      // consumes score, and the corpus text is read once
      val qF = Future(graft.text.TextOps.qualityScore(spark, dir)
        .select(col("doc_id"), col("keep").as("q_keep"), col("score"))
        .materializeOnce(eager = true))
      val repF = Future(graft.curate.Curate.repetitionStats(spark, dir)
        .select(col("doc_id"), col("flagged").as("rep_flagged"))
        .materializeOnce(eager = true))
      val rareF = Future(graft.text.Relevance.rarityScore(spark, dir)
        .select(col("doc_id"), col("flagged").as("rare_flagged"))
        .materializeOnce(eager = true))
      val lmF = Future(graft.text.Relevance.lmScore(spark, dir)
        .select(col("doc_id"), col("flagged").as("lm_flagged"))
        .materializeOnce(eager = true))
      val clusterF = Future(clusterVerdicts
        .select(col("doc_id"), col("keep").as("dedup_keep"))
        .materializeOnce(eager = true))
      val deconF = Future(graft.curate.Curate.decontaminate(spark, dir)
        .select(col("doc_id"), col("contaminated"))
        .materializeOnce(eager = true))
      // one combined await: a failing gate rethrows immediately instead
      // of after every earlier-ordered sibling; the catch interrupts the
      // pool so the surviving gate threads stop submitting Spark jobs
      // into whatever query runs next (pool.shutdown() alone would let
      // them run to completion in the background)
      val all = Future.sequence(Seq(qF, repF, rareF, lmF, clusterF, deconF))
      val Seq(q, rep, rare, lm, cluster, decon) =
        try Await.result(all, Duration.Inf)
        catch { case e: Throwable => pool.shutdownNow(); throw e }
      CurationGates(decide(decon, q, rep, rare, lm, cluster))
    } finally pool.shutdown()
  }

  /** The six gates in published stage order (quality → repetition →
    * rarity → LM → dedup → decontamination), each with the condition a
    * doc meets to pass it. `keep` is their AND; the funnel's stage N
    * applies the first N.
    */
  private val Stages: Seq[(String, Column)] = Seq(
    "quality" -> (col("q_keep") === 1),
    "repetition" -> (col("rep_flagged") === 0),
    "rarity" -> (col("rare_flagged") === 0),
    "lm" -> (col("lm_flagged") === 0),
    "dedup" -> (col("dedup_keep") === 1),
    "decontamination" -> (col("contaminated") === 0))

  /** Passes the first `k` of [[Stages]]. */
  private def passesFirst(k: Int): Column =
    Stages.take(k).map(_._2).reduce(_ && _)

  /** Join six `(doc_id, verdict)` gate frames into the decision frame
    * and pin it: `(doc_id, contaminated, q_keep, score, rep_flagged,
    * rare_flagged, lm_flagged, dedup_keep, keep)`, where `quality`
    * carries `(doc_id, q_keep, score)`.
    *
    * One row per CANDIDATE doc — every non-eval doc (eval docs are the
    * benchmark, not corpus candidates; `decon` defines that split, so
    * it is the inner-join base). Gates that cannot assess a doc keep it
    * by convention (the rule `lmScore` documents): repetition needs
    * ≥ 2 tokens, so sub-2-token docs LEFT-join it with `rep_flagged`
    * coalesced to 0 — they still fail `q_keep` (the quality gate
    * dislikes them for better reasons), so the frame stays TOTAL over
    * candidates and its keep set is the survivor manifest exactly.
    */
  private[graft] def decide(decon: DataFrame, quality: DataFrame,
      repetition: DataFrame, rarity: DataFrame, lm: DataFrame,
      cluster: DataFrame): DataFrame = {
    import graft.core.Materialize.MatOps
    decon.join(quality, "doc_id")
      .join(repetition, Seq("doc_id"), "left").join(rarity, "doc_id")
      .join(lm, "doc_id").join(cluster, "doc_id")
      .withColumn("rep_flagged", coalesce(col("rep_flagged"), lit(0)))
      .withColumn("keep", passesFirst(Stages.size).cast("int"))
      .materializeOnce(eager = true)
  }

  /** The full training-corpus curation flow, the published-pipeline
    * stage order (Gopher/RefinedWeb/CCNet-shape): composite quality
    * gate + intra-doc repetition filter + rare-token (rarity) gate +
    * bigram-LM gate (the perplexity-filter stage) → near-dup cluster
    * survivors → benchmark decontamination → token-budget shard
    * packing. Returns one row per surviving doc with its shard
    * assignment — the manifest a shard writer consumes.
    *
    * Each stage's scale shape is its operator's (SURVEY §5); the
    * composition only ever joins narrow doc_id key frames, so the
    * corpus text is scanned by the stages that need it and never
    * shuffled between them.
    */
  def curateCorpus(spark: SparkSession, dir: String): DataFrame =
    curateCorpusFrom(spark, dir, curateGates(spark, dir))

  /** `curateCorpus` over a pinned decision frame: the documents joined
    * to its `keep = 1` ids, shard-packed. Pass the SAME `curateGates`
    * value to this and `curationReportFrom` and the gates run once for
    * the whole session (PipelineSpec proves the composed plans contain
    * no gate machinery, only the pinned frame).
    */
  def curateCorpusFrom(spark: SparkSession, dir: String,
      g: CurationGates): DataFrame = {
    val keep = g.decisions.filter(col("keep") === 1).select("doc_id")
    graft.curate.Curate.shardPackDocs(
      Tables.documents(spark, dir).select("doc_id", "text").join(keep, "doc_id"))
  }

  /** The per-document curation DECISION TABLE: every gate's verdict side
    * by side plus the final keep — the decision `curateCorpus` acts on,
    * surfaced per doc so a pipeline operator can audit WHY a document
    * dropped (the report every production curation run publishes next
    * to its survivor manifest). One row per candidate doc; see
    * [[decide]] for the candidate set and the repetition convention.
    */
  def curationReport(spark: SparkSession, dir: String): DataFrame =
    curationReportFrom(curateGates(spark, dir))

  /** `curationReport` over a pinned decision frame: the frame without
    * the quality `score`, a scan of the pin (see `curateCorpusFrom` for
    * the sharing contract).
    */
  def curationReportFrom(g: CurationGates): DataFrame =
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive
    g.decisions.drop("score")

  /** Gate-attrition FUNNEL — the one-page summary every curation run is
    * judged by: per pipeline stage (published order: quality →
    * repetition → rarity → LM → dedup → decontamination), how many
    * candidates entered, how many that stage dropped, how many remain,
    * and the cumulative survival ppm. Stage N's count applies gates
    * 1..N, so the last row's `n_out` equals the survivor manifest size
    * by construction. Served from the PERSISTED dedup label index
    * (`curateGatesIndexed` — the production gate path); the oracle
    * recomputes the whole chain independently.
    *
    * Scale shape: ONE aggregation pass over the decision table (all six
    * stacked conditions as parallel partial-agg sums), then a 6-row
    * explode of the totals row — nothing here is more than
    * report-scan-bound.
    */
  def gateFunnel(spark: SparkSession, dir: String): DataFrame =
    gateFunnelFrom(curationReportFrom(curateGatesIndexed(spark, dir)))

  /** [[gateFunnel]] over any decision table with the report's columns. */
  def gateFunnelFrom(report: DataFrame): DataFrame = {
    // n(k): docs passing the first k stages; n(0) counts every candidate
    def n(k: Int): Column = col(s"n$k")
    val passing = (1 to Stages.size).map(k =>
      sum(when(passesFirst(k), 1L).otherwise(0L)).as(s"n$k"))
    val rows = Stages.map(_._1).zip(1 to Stages.size).map { case (stage, k) =>
      struct(lit(k.toLong).as("stage_idx"), lit(stage).as("stage"),
        n(k - 1).as("n_in"), (n(k - 1) - n(k)).as("n_dropped"),
        n(k).as("n_out"), expr(s"1000000 * n$k DIV n0").as("survival_ppm"))
    }
    report.agg(count(lit(1)).as("n0"), passing: _*)
      .select(explode(array(rows: _*)).as("s"))
      .select("s.*")
      .orderBy("stage_idx") // 6-row output: bounded sort
  }

  /** Per-SOURCE curation scorecard — the domain-reputation table a
    * crawl planner reads (which sources to crawl deeper, which to
    * deprioritize): per source, candidate count, curation keep rate,
    * duplicate rate (non-survivors of the dedup gate), contamination
    * rate, and mean quality score — all integer-exact ppm. The sibling
    * of [[gateFunnel]] grouped by provenance instead of stage; same
    * persisted-label gate path, same one-aggregation-pass shape (one
    * narrow doc_id join attaches source to the decision frame, which
    * already carries score, then one source-keyed partial agg).
    */
  def sourceReputation(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    sourceReputationFrom(
      curateGatesIndexed(spark, dir).decisions.join(src, "doc_id"))
  }

  /** [[sourceReputation]]'s aggregation over any decision frame carrying
    * the report's columns plus `source` and `score` — the persisted
    * decision table (`curate.DecisionStore`) serves it directly.
    */
  def sourceReputationFrom(decisions: DataFrame): DataFrame = {
    decisions
      .groupBy("source")
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum(when(col("dedup_keep") === 0, 1L).otherwise(0L)).as("n_dup"),
        sum(col("contaminated").cast("long")).as("n_contam"),
        sum(col("score").cast("long")).as("sum_score"))
      .select(col("source"), col("n_candidates"),
        expr("CAST(1000000 * n_keep DIV n_candidates AS BIGINT)").as("keep_ppm"),
        expr("CAST(1000000 * n_dup DIV n_candidates AS BIGINT)").as("dup_ppm"),
        expr("CAST(1000000 * n_contam DIV n_candidates AS BIGINT)").as("contam_ppm"),
        expr("CAST(sum_score DIV n_candidates AS BIGINT)").as("mean_score"))
      .orderBy("source") // source-table-sized output: bounded sort
  }

  /** Embedding index pipeline: QC gate → LSH ANN over the surviving
    * vectors. Bad vectors (non-finite, zero, wrong dimension) never
    * enter the index or the candidate space — the validation step a
    * production vector store runs before ingest. The gate output is
    * tiny (the flagged set), so the exclusion is a broadcast anti-join;
    * everything downstream keeps annLsh's narrow-bucket shapes.
    */
  def indexEmbeddings(spark: SparkSession, dir: String): DataFrame =
    indexEmbeddingsFrom(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  /** `indexEmbeddings` over an arbitrary `(vec_id, embedding)` frame. */
  def indexEmbeddingsFrom(emb: org.apache.spark.sql.DataFrame): DataFrame = {
    val bad = graft.sim.Similarity.embedQcFrom(emb)
      .filter(col("flag_nonfinite") === 1 || col("flag_zero") === 1 ||
        col("flag_dim") === 1)
      .select("vec_id")
    val clean = emb.join(broadcast(bad), Seq("vec_id"), "left_anti")
    graft.sim.Similarity.annLshFrom(clean)
  }

  /** Per-store diff counts of one [[crawlCycle]] run. */
  final case class CrawlCycleReport(
      decisionsNew: Long, decisionsDeleted: Long,
      searchNew: Long, searchChanged: Long, searchDeleted: Long,
      vectorsNew: Long, vectorsDeleted: Long,
      spanBatchDocs: Long)

  /** ONE crawl arrives; EVERY persisted store converges — the composed
    * form of the reference's sync loop (sync_service.rs:104-163)
    * applied across the whole incremental serving surface in a single
    * call. Given the crawl's FULL current state (`docs` with
    * `(doc_id, text, source)`, `emb` with `(vec_id, embedding)`):
    *
    *  - the per-corpus DECISION TABLE runs its diff cycle (new docs
    *    scored against the frozen gate models and appended; vanished
    *    docs tombstoned and removed as dup sources);
    *  - the SEARCH index at `searchBase` deletes vanished ids first,
    *    then upserts with the `text_hash` revision compare (only
    *    changed documents reindex);
    *  - the VECTOR index at `vectorBase` tombstones vanished ids and
    *    appends new ones under its frozen quantizers;
    *  - the SPAN store at `spanBase` absorbs the monotone NEW slice
    *    (ids above its committed high-water mark) — span trim reports
    *    are append-only crawl history by design (first-owner-keeps is
    *    stable under monotone ids; removing a document's report means
    *    a rebuild, the same trade the reference's snapshot history
    *    makes).
    *
    * Every half of every store cycle is idempotent, so a REPLAYED
    * cycle reports all-zero diffs and changes nothing (spec-pinned).
    * Scale shape: each store classifies the crawl with narrow id
    * anti-joins against its bucketed table (store side bucket-scans,
    * only the crawl's ids shuffle) and then does batch-proportional
    * work — the whole cycle costs the delta, never the corpus.
    */
  def crawlCycle(spark: SparkSession, dir: String,
      docs: DataFrame, emb: DataFrame,
      searchBase: String, vectorBase: String,
      spanBase: String): CrawlCycleReport = {
    val (decNew, decDel) =
      graft.curate.DecisionStore.crawlSync(spark, dir, docs)
    val (sNew, sChanged, sDel) = graft.index.SearchIndexStore
      .searchSync(docs.select("doc_id", "text"), searchBase)
    val (vNew, vDel) = graft.sim.VectorIndexStore
      .crawlSyncVectors(spark, vectorBase, emb)
    val nSpan = graft.dedup.SpanIndexStore
      .spanSync(docs.select("doc_id", "text"), spanBase)
    CrawlCycleReport(decNew, decDel, sNew, sChanged, sDel, vNew, vDel, nSpan)
  }
}
