package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{IndexScratch, Tables}
import graft.core.Materialize.MatOps
import graft.sinks.Sinks
import graft.text.Relevance

/** Persisted, incrementally-maintained SEARCH index — the store the
  * reference's whole worker exists to keep current (sync_service.rs
  * classifies upstream articles as new / changed / deleted;
  * indexing.rs + meili.rs rebuild exactly the affected search
  * documents and upload them). Until this module the engine's search
  * surface (`inverted_index`, `bm25_rank`, `search_doc`) recomputed
  * the index from the corpus per call; here the postings live on disk
  * and one crawl's delta costs one batch, not one corpus.
  *
  * Layout under `basePath`:
  *  - `postings/` `(token, doc_id, gen, tf)` BUCKETED by `token` —
  *    term-keyed reads (query-term lookups, the inverted-index rollup)
  *    stream bucket files with zero Exchange on the index side, and
  *    equality/IN filters on `token` prune to the matching buckets.
  *  - `docstats/` `(doc_id, gen, n_tokens, text_hash)` BUCKETED by
  *    `doc_id` — the per-document spine (BM25 needs every doc's
  *    length); `text_hash` is the revision check that decides whether
  *    an upsert needs to reprocess a document at all.
  *  - `dead/` `(doc_id, dead_gen)`: generations `<= dead_gen` of that
  *    document are dead. O(mutated docs so far), broadcast at load.
  *  - `meta/` one `(n_docs, total_tokens)` row, recounted from LIVE
  *    rows on every mutation (the corpus-level BM25 factors, known at
  *    write time so queries never run a corpus-wide count job).
  *
  * Unlike the dedup/vector stores (id↔content immutability; change =
  * delete + new id), search documents genuinely change in place when
  * an article is revised — the reference's `changed` class. The store
  * supports that with GENERATIONS, the columnar form of a search
  * engine's delete-bitmap + re-add: an upsert never rewrites old rows,
  * it marks every existing generation dead and appends the batch at
  * `max(physical gen) + 1`. Reads hide dead generations via one
  * broadcast anti-ish join; [[compact]] folds them out physically.
  *
  * Crash ordering: the dead-map write lands BEFORE the appends, so a
  * mid-upsert crash leaves the affected documents temporarily absent
  * (repaired by replaying the batch) rather than visible TWICE — the
  * same deletes-first choice as `DecisionStore.crawlSync`; for a
  * search index a missing doc is a recall blip, a duplicated doc is a
  * ranking corruption. Appends are guarded per `(doc_id, gen)` against
  * the physical tables, so replays repair partial failures instead of
  * duplicating rows, and an upsert whose live `text_hash` already
  * matches is a no-op — which is also precisely the reference's
  * revision compare (only reprocess documents whose revision moved).
  */
object SearchIndexStore {

  private val Buckets = 32

  private def tableName(basePath: String, part: String): String =
    "graft_sidx_" + IndexScratch.md5hex(basePath).take(10) + "_" + part

  /** Tokenize a `(doc_id, text)` frame into postings rows at `gen`. */
  private def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("gen"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("token", "doc_id", "gen")
      .agg(count(lit(1)).as("tf"))
      .select("token", "doc_id", "gen", "tf")

  private def statsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("gen"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      xxhash64(col("text")).as("text_hash"))

  /** Full build at generation 0 (fresh store: any previous dead map is
    * dropped). Two corpus scans — one per table — both ending in a
    * single partial-agg shuffle onto the table's own bucket key.
    */
  def build(docs: DataFrame, basePath: String): Unit = {
    val spark = docs.sparkSession
    val d = docs.select(col("doc_id"), col("text"), lit(0).as("gen"))
    Sinks.writeBucketed(postingsOf(d), tableName(basePath, "postings"),
      "token", Buckets, Some(s"$basePath/postings"))
    Sinks.writeBucketed(statsOf(d), tableName(basePath, "docstats"),
      "doc_id", Buckets, Some(s"$basePath/docstats"))
    IndexScratch.drop(spark, s"$basePath/dead")
    writeMetaRecount(spark, basePath)
  }

  /** The PHYSICAL bucketed table for an index part — dead generations
    * included. Mutation guards key on physical rows (what duplicates);
    * query paths go through the live view.
    */
  private def physical(spark: SparkSession, basePath: String,
      part: String, keyCol: String): DataFrame =
    IndexScratch.bucketedTable(spark, tableName(basePath, part),
      s"$basePath/$part", keyCol, Buckets)

  /** Hide dead generations. The dead map is mutated-docs-sized, so the
    * join broadcasts and the bucketed side keeps its layout.
    */
  private def liveView(df: DataFrame, dead: Option[DataFrame]): DataFrame =
    dead.map { d =>
      df.join(broadcast(d), Seq("doc_id"), "left")
        .filter(col("dead_gen").isNull || col("gen") > col("dead_gen"))
        .drop("dead_gen")
    }.getOrElse(df)

  def loadPostings(spark: SparkSession, basePath: String): DataFrame =
    liveView(physical(spark, basePath, "postings", "token"),
      IndexScratch.read(spark, s"$basePath/dead"))

  def loadDocStats(spark: SparkSession, basePath: String): DataFrame =
    liveView(physical(spark, basePath, "docstats", "doc_id"),
      IndexScratch.read(spark, s"$basePath/dead"))

  /** `(n_docs, total_tokens)` of the live corpus. */
  private def liveTotals(spark: SparkSession, basePath: String): DataFrame =
    loadDocStats(spark, basePath)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"))

  private def writeMetaRecount(spark: SparkSession, basePath: String): Unit = {
    val t = liveTotals(spark, basePath).head()
    IndexScratch.writeMeta(spark, basePath,
      "n_docs" -> t.getLong(0), "total_tokens" -> t.getLong(1))
  }

  /** UPSERT a `(doc_id, text)` batch — new documents at gen 0, changed
    * documents at `max(physical gen) + 1` with every older generation
    * marked dead, documents whose live `text_hash` equals the batch's
    * skipped entirely (the revision compare). Only the batch is
    * tokenized; the docstats side of the diff is a join against the
    * bucketed spine (exchange-free on the table side), and the
    * physical-pair guards scan narrow `(doc_id, gen)` columns only.
    *
    * Returns `(n_new, n_changed)` for THIS invocation's writes — a
    * replay that repairs a partial failure counts the repaired docs as
    * new (their visible rows were dead), a full replay returns (0, 0).
    */
  def upsertDocs(batch: DataFrame, basePath: String): (Long, Long) = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("text"),
      xxhash64(col("text")).as("text_hash")).materializeOnce(eager = true)
    val bIds = b.select("doc_id")
    // physical + live docstats rows for the batch ids only (no
    // broadcast hint on bIds: a corpus-wide sync passes every id and
    // AQE should then shuffle the id side against the bucketed spine)
    val physB = physical(spark, basePath, "docstats", "doc_id")
      .join(bIds, Seq("doc_id"))
      .select("doc_id", "gen", "text_hash")
      .materializeOnce(eager = true)
    val dead0 = IndexScratch.read(spark, s"$basePath/dead")
    val liveB = liveView(physB, dead0)
      .select(col("doc_id"), col("text_hash").as("live_hash"))
    val changed = b
      .join(liveB, Seq("doc_id"), "left")
      .filter(col("live_hash").isNull || col("live_hash") =!= col("text_hash"))
      .select(col("doc_id"), col("text"), col("live_hash"))
      .materializeOnce(eager = true)
    // the new generation must clear the max physical gen of BOTH
    // tables, not docstats alone: a crashed append can leave postings
    // one gen ahead (the case deleteDocs already handles), and reusing
    // that occupied gen for different content would let the (doc_id,
    // gen) guard drop the new postings while the docstats row lands —
    // the index would serve the crashed batch's postings forever
    val physPostPairs = physical(spark, basePath, "postings", "token")
      .join(broadcast(changed.select("doc_id")), Seq("doc_id"))
      .select("doc_id", "gen").distinct()
      .materializeOnce(eager = true)
    val maxPhys = physB.select("doc_id", "gen")
      .unionByName(physPostPairs)
      .groupBy("doc_id").agg(max("gen").as("max_phys"))
    val planned = changed
      .join(maxPhys, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("max_phys") + 1, lit(0)).as("gen"),
        col("live_hash"))
      .materializeOnce(eager = true)
    val nNew = planned.filter(col("live_hash").isNull).count()
    val nChanged = planned.filter(col("live_hash").isNotNull).count()
    if (nNew + nChanged == 0) {
      // a crash after both appends but before the meta write leaves a
      // full replay seeing no effective mutation — recount here so the
      // replay still repairs meta (the BM25 corpus factors); one cheap
      // aggregate over live docstats
      writeMetaRecount(spark, basePath)
      return (0L, 0L)
    }
    // 1) dead FIRST (see object doc: absent beats duplicated) — every
    //    physical generation below the new one dies
    val newDead = planned.filter(col("gen") > 0)
      .select(col("doc_id"), (col("gen") - 1).as("dead_gen"))
    if (newDead.limit(1).count() > 0) {
      IndexScratch.commit(dead0.map(_.unionByName(newDead)).getOrElse(newDead)
        .groupBy("doc_id").agg(max("dead_gen").as("dead_gen")),
        s"$basePath/dead")
    }
    // 2) appends, each guarded per (doc_id, gen) against its PHYSICAL
    //    table so a replayed batch repairs a partial failure
    val toProcess = planned.select("doc_id", "text", "gen")
    // physPostPairs (physical postings ∩ batch's changed ids) doubles
    // as the per-(doc_id, gen) replay guard — planned ids ARE changed
    // ids, so no second postings scan
    Sinks.appendBucketed(
      postingsOf(toProcess)
        .join(physPostPairs, Seq("doc_id", "gen"), "left_anti")
        .materializeOnce(eager = true),
      tableName(basePath, "postings"), "token", Buckets)
    val physStatPairs = physB.select("doc_id", "gen").distinct()
    Sinks.appendBucketed(
      statsOf(toProcess)
        .join(physStatPairs, Seq("doc_id", "gen"), "left_anti")
        .materializeOnce(eager = true),
      tableName(basePath, "docstats"), "doc_id", Buckets)
    writeMetaRecount(spark, basePath)
    (nNew, nChanged)
  }

  /** Delete documents by id: their highest physical generation (from
    * EITHER table — a crashed append may have left postings one gen
    * ahead of docstats) lands in the dead map, so every physical row
    * dies. O(deleted ids) writes; unknown ids are no-ops; idempotent.
    */
  def deleteDocs(ids: DataFrame, basePath: String): Unit = {
    val spark = ids.sparkSession
    val del = ids.select("doc_id").distinct().materializeOnce(eager = true)
    val gens = physical(spark, basePath, "docstats", "doc_id")
      .select("doc_id", "gen")
      .unionByName(physical(spark, basePath, "postings", "token")
        .select("doc_id", "gen"))
      .join(broadcast(del), Seq("doc_id"))
      .groupBy("doc_id").agg(max("gen").as("dead_gen"))
    IndexScratch.commit(IndexScratch.read(spark, s"$basePath/dead")
      .map(_.unionByName(gens)).getOrElse(gens)
      .groupBy("doc_id").agg(max("dead_gen").as("dead_gen")),
      s"$basePath/dead")
    writeMetaRecount(spark, basePath)
  }

  /** Fold the dead map into the physical tables (one bucketed
    * rewrite each — linear in the index, a maintenance pass like
    * `compactIvfPq`) and drop it. Query results are unchanged; the
    * filter moves from plan to storage.
    */
  def compact(spark: SparkSession, basePath: String): Unit =
    IndexScratch.foldInto(spark, s"$basePath/dead") { dead =>
      Seq("postings" -> "token", "docstats" -> "doc_id").foreach {
        case (part, key) =>
          IndexScratch.rewriteBucketed(
            liveView(physical(spark, basePath, part, key), Some(dead)),
            tableName(basePath, part), s"$basePath/$part", key, Buckets)
      }
      writeMetaRecount(spark, basePath)
    }

  /** One CRAWL-SYNC cycle — the reference's diff loop applied to the
    * search index itself (sync_service.rs:104-163: new / changed /
    * deleted): live ids absent upstream are deleted first (same-cycle
    * replacement safe), then the whole upstream runs through
    * [[upsertDocs]], whose `text_hash` compare touches only documents
    * that actually changed — the revision check that lets a 100 TB
    * corpus sync for the cost of its delta. Replayed cycles return
    * `(0, 0, 0)`.
    *
    * @return (n_new, n_changed, n_deleted)
    */
  def searchSync(upstream: DataFrame, basePath: String): (Long, Long, Long) = {
    val spark = upstream.sparkSession
    val up = upstream.select(col("doc_id"), col("text"))
    val upIds = up.select("doc_id").materializeOnce()
    val deleted = loadDocStats(spark, basePath).select("doc_id")
      .join(upIds, Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true) // pin before the store is mutated
    val nDeleted = deleted.count()
    if (nDeleted > 0) deleteDocs(deleted, basePath)
    val (nNew, nChanged) = upsertDocs(up, basePath)
    (nNew, nChanged, nDeleted)
  }

  /** Build-if-missing-or-stale over the corpus documents (the shared
    * fingerprint protocol); returns the store's base path.
    */
  def ensureSearchIndex(spark: SparkSession, dir: String): String = {
    val base = IndexScratch.scratchBase(dir, "searchidx")
    val fp = IndexScratch.sourceFingerprint(spark, s"$dir/documents.parquet")
    IndexScratch.ensureBuilt(base, fp) {
      build(Tables.documents(spark, dir).select("doc_id", "text"), base)
    }
    base
  }

  /** The inverted-index rollup over a live postings frame — the same
    * per-token summary `Indexing.invertedIndex` computes from the raw
    * corpus, but each document already arrives as (token, tf) rows, so
    * the corpus-sized tokenize + first aggregation are gone and what
    * remains is one partial-agg pass over the bucketed postings.
    */
  private def invertedIndexFrom(postings: DataFrame): DataFrame =
    postings
      .groupBy("token")
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        max(col("tf")).as("max_tf"),
        max(struct(col("tf"), (-col("doc_id")).as("negdoc"))).as("top"))
      .select(col("token"), col("df"), col("total_tf"), col("max_tf"),
        (-col("top.negdoc")).as("top_doc"))
      .orderBy("token")

  /** The rollup over an arbitrary store — the serving form for stores
    * maintained by [[upsertDocs]]/[[searchSync]] outside the corpus
    * fingerprint protocol.
    */
  def invertedIndexOf(spark: SparkSession, basePath: String): DataFrame =
    invertedIndexFrom(loadPostings(spark, basePath))

  /** `inverted_index` served from the persisted postings store —
    * hash-checked against the SAME oracle as the per-call tokenize
    * path (the load-not-recompute swap, `curation_report_indexed`'s
    * pattern applied to the search index).
    */
  def invertedIndexIndexed(spark: SparkSession, dir: String): DataFrame =
    invertedIndexFrom(loadPostings(spark, ensureSearchIndex(spark, dir)))

  /** `token_freq` served from the persisted postings store: the corpus
    * occurrence count of a token is `sum(tf)` over its posting rows —
    * one partial-agg pass over the token-bucketed postings, zero
    * corpus tokenization — then the shared top-100 rank tail, so the
    * output hash-checks against the SAME oracle as `token_freq`.
    */
  def tokenFreqIndexed(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.tokenFreqTail(
      loadPostings(spark, ensureSearchIndex(spark, dir))
        .groupBy("token").agg(sum(col("tf")).as("cnt")))

  /** `tfidf_topk` served from the persisted postings store: the
    * postings ARE the `(doc_id, token, tf)` frame the corpus path
    * tokenizes to build, and `n_docs` is a count of the doc-stats
    * spine (one row per live doc, no text) — so the whole entry runs
    * without touching corpus text. Scoring goes through the shared
    * `Relevance.tfidfTail`, integer arithmetic identical, SAME oracle
    * as `tfidf_topk`.
    */
  def tfidfTopkIndexed(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureSearchIndex(spark, dir)
    graft.text.Relevance.tfidfTail(
      loadPostings(spark, base).select("doc_id", "token", "tf"),
      loadDocStats(spark, base).agg(count(lit(1)).as("n_docs")))
  }

  /** BM25 over the persisted index for an arbitrary term query — the
    * actual serving path of a search engine: the postings scan prunes
    * to the query terms' buckets (token-bucketed layout + IN filter),
    * df/tf come from those few thousand posting rows, corpus factors
    * from the one-row meta, and only the per-document spine (one row
    * per live doc, no text) is scanned in full for the lengths. The
    * corpus text is never touched. Scoring goes through the shared
    * `Relevance.bm25ScoreTail`, so the doubles are byte-identical to
    * the per-call scan path.
    */
  def bm25FromIndex(spark: SparkSession, basePath: String,
      terms: Seq[String], topK: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      s"bm25FromIndex terms must be plain tokens, got: $terms")
    require(terms.map(_.toLowerCase).distinct.size == terms.size,
      s"bm25FromIndex terms must be distinct (case-insensitively), got: $terms")
    val p = loadPostings(spark, basePath)
      .filter(col("token").isin(terms: _*))
      .materializeOnce() // query-terms-sized; feeds df AND tf below
    val dfCols = terms.map(t =>
      coalesce(sum(when(col("token") === t, lit(1))), lit(0L))
        .cast("long").as(s"df_$t"))
    // limit(1) is a no-op on the 1-row meta but gives the plan a
    // provable maxRows=1, so SingleRowCrossToEquiJoin rewrites both
    // cross joins below to broadcast HASH joins (a bare parquet scan
    // carries no row bound and would fall back to a nested loop)
    val stats = IndexScratch.readMeta(spark, basePath)
      .getOrElse(liveTotals(spark, basePath)).limit(1)
      .crossJoin(broadcast(p.agg(dfCols.head, dfCols.tail: _*)))
    val tfCols = terms.map(t =>
      sum(when(col("token") === t, col("tf"))).as(s"raw_tf_$t"))
    val tfs = p.groupBy("doc_id").agg(tfCols.head, tfCols.tail: _*)
    val withTf = loadDocStats(spark, basePath)
      .select(col("doc_id"), col("n_tokens"))
      .join(tfs, Seq("doc_id"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("dl", col("n_tokens").cast("double"))
      .select(
        (col("doc_id") +: col("dl") +: col("total_tokens") +: col("n_docs") +:
          terms.map(t => col(s"df_$t")) ++:
          terms.map(t =>
            coalesce(col(s"raw_tf_$t"), lit(0L)).cast("double").as(s"tf_$t"))): _*)
    Relevance.bm25ScoreTail(withTf, terms, topK)
  }

  /** `bm25_rank` served from the persisted postings store — same fixed
    * query, hash-checked against the SAME oracle as the per-call
    * corpus-scan path.
    */
  def bm25RankIndexed(spark: SparkSession, dir: String): DataFrame =
    bm25FromIndex(spark, ensureSearchIndex(spark, dir), Relevance.QueryTerms)

  /** [[searchIndexSync]]'s demonstration split: the store starts from
    * a STALE snapshot of the corpus — documents at or above `SyncNewCut`
    * not yet crawled, documents in `[SyncStaleLo, SyncStaleHi]` holding
    * an old revision (their text reversed), plus `SyncPhantomN` phantom
    * documents (ids offset by `SyncPhantomBase`) the upstream has since
    * dropped — and one [[searchSync]] cycle against the true corpus
    * must converge it.
    */
  private val SyncNewCut = 450L
  private val SyncStaleLo = 440L
  private val SyncStaleHi = 449L
  private val SyncPhantomBase = 1000000L
  private val SyncPhantomN = 10L

  /** Build-if-missing for the sync entry's store: a stale snapshot of
    * the corpus brought current by ONE [[searchSync]] cycle (all three
    * diff classes exercised: ≥`SyncNewCut` new, the stale range
    * changed, the phantoms deleted). Returns the base path.
    */
  def ensureSyncedIndex(spark: SparkSession, dir: String): String = {
    val base = IndexScratch.scratchBase(dir, "searchsync")
    val fp = IndexScratch.sourceFingerprint(spark, s"$dir/documents.parquet")
    IndexScratch.ensureBuilt(base, fp) {
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      val stale = docs.filter(col("doc_id") < SyncNewCut)
        .select(col("doc_id"),
          when(col("doc_id").between(SyncStaleLo, SyncStaleHi),
            reverse(col("text"))).otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") < SyncPhantomN)
          .select((col("doc_id") + SyncPhantomBase).as("doc_id"),
            col("text")))
      build(stale, base)
      searchSync(docs, base)
    }
    base
  }

  /** The full crawl-sync cycle as an ORACLE-GATED entry: one
    * [[searchSync]] converges the stale store ([[ensureSyncedIndex]])
    * to the true corpus, and the inverted-index rollup served from the
    * synced store hash-checks against the SAME DuckDB oracle as the
    * full-corpus `inverted_index` — so new, changed, AND deleted
    * handling all sit under the exact cross-engine gate: any phantom
    * row left live, stale revision not replaced, or new document
    * missed changes the hash.
    */
  def searchIndexSync(spark: SparkSession, dir: String): DataFrame =
    invertedIndexFrom(loadPostings(spark, ensureSyncedIndex(spark, dir)))
}
