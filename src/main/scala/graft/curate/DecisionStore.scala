package graft.curate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Pipeline
import graft.core.IndexScratch
import graft.core.IndexScratch.{ensureBuilt, scratchBase, sourceFingerprint}
import graft.core.Tables
import graft.sinks.Sinks

/** Persisted curation DECISION TABLE — one decision run, many readers.
  *
  * The decision report (`Pipeline.curationReportFrom`) is the single
  * source of truth for every derived curation view: the survivor
  * manifest filters it, the gate funnel aggregates it, the per-source
  * scorecard groups it. Before this store, each query entry that needed
  * it re-ran the five non-dedup gate scans per call (the dedup gate
  * already loads from `MinhashIndexStore`'s label index) — ~6 s each at
  * sf0.1 and up to 147 s at sf1, three times over, for what is ONE
  * decision table plus three cheap aggregations.
  *
  * This module materializes the WIDE decision row — every gate verdict,
  * the final keep, plus the two audit attributes the scorecard needs
  * (`source`, raw quality `score`) — once per corpus under the shared
  * index-scratch protocol, and serves all three readers from the
  * persisted table: each reader's plan is the bucketed table scan plus
  * its own aggregation, nothing else (spec-pinned: no text scan, no
  * gate machinery). Same freshness contract as the dedup/vector stores:
  * the `_INDEX_OK` marker carries the corpus fingerprint, so in-place
  * regeneration rebuilds transparently and the outputs are
  * value-identical either way (all three entries hash-check against the
  * SAME DuckDB oracles as the per-run paths).
  *
  * 100 TB shape: the decision row is ~40 bytes/doc regardless of doc
  * size, so the table is ~0.04% of the corpus — persisting it once per
  * crawl and reading it per curation question is the same
  * load-not-recompute move the cluster-label index made, one level up
  * the stack. Bucketed by `doc_id` so per-doc audit joins (manifest ×
  * decisions, decisions × new gate columns) read bucket-aligned.
  */
object DecisionStore {

  private val Buckets = 32

  private def tableName(basePath: String): String =
    "graft_decisions_" + IndexScratch.md5hex(basePath).take(10)

  /** The PHYSICAL decision table (tombstoned rows included). */
  private def physical(spark: SparkSession, basePath: String): DataFrame =
    IndexScratch.bucketedTable(spark, tableName(basePath),
      s"$basePath/decisions", "doc_id", Buckets)

  /** Build the wide decision table: the pinned decision frame (dedup
    * gate from the persisted label index) plus `source`, attached by one
    * narrow doc_id join — the corpus text is scanned only by the gates
    * themselves, exactly once.
    */
  def build(spark: SparkSession, dir: String, basePath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val g = Pipeline.curateGatesIndexed(spark, dir)
    // persisted order: the report's columns, then source and score
    val columns = Pipeline.curationReportFrom(g).columns :+ "source" :+ "score"
    val wide = g.decisions
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .select(columns.map(col).toIndexedSeq: _*)
    Sinks.writeBucketed(wide, tableName(basePath), "doc_id",
      Buckets, Some(s"$basePath/decisions"))
    // FROZEN gate models, persisted next to the decisions so an
    // incremental batch (appendDecisions) can be scored without
    // re-scanning the corpus that defined the scales: the vocab-sized
    // rarity idf table, the Zipf-bounded bigram LM tables, the
    // eval-suite gram set, and the full-corpus minhash band index (the
    // quality and repetition gates are per-doc and stateless). Model
    // size is vocabulary/eval-suite-shaped, NOT corpus-shaped — at
    // 100 TB these are the same few-GB artifacts a CCNet-style pipeline
    // ships with its trained filters.
    val docs = Tables.documents(spark, dir)
    graft.text.Relevance.rarityModel(docs)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$basePath/models/rarity_idf")
    val (lmPairs, lmCtx) = graft.text.Relevance.lmModel(docs)
    lmPairs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$basePath/models/lm_pairs")
    lmCtx.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$basePath/models/lm_ctx")
    Curate.evalGrams(docs)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$basePath/models/decon_grams")
    graft.dedup.MinhashIndexStore.build(
      docs.select("doc_id", "text"), s"$basePath/mh")
  }

  /** Score a NEW document batch `(doc_id, text, source)` against the
    * FROZEN gate models and append its decision rows to the persisted
    * table — the crawl-increment move: N-1 crawls' gates are never
    * recomputed, only the batch is scanned (against vocabulary-sized
    * frozen models), the `appendIvfPq` contract one level up the stack.
    *
    * Gate semantics for the batch, and where they diverge from a full
    * rebuild (the divergences are the frozen-model trade, reconciled by
    * the next fingerprint-triggered rebuild — the same contract as the
    * vector store's frozen quantizers):
    *  - quality / repetition: per-doc, identical to a rebuild.
    *  - rarity / LM: scored against the build-time idf / bigram tables;
    *    tokens and bigrams the frozen models don't know drop from the
    *    means. A rebuild would re-estimate the scales over the union.
    *  - decontamination: gated against the build-time eval gram set;
    *    batch docs on the eval split (doc_id % 97 == 0) are benchmark
    *    material, excluded from decisions entirely.
    *  - dedup: a batch doc survives iff it near-dups NOTHING in the
    *    indexed corpus (`MinhashIndexStore.dedupIncrementalAgainstIndex`
    *    over the store's own full-corpus band index, which each append
    *    EXTENDS with its batch — so later increments see earlier ones)
    *    AND it is its within-batch cluster's min-id survivor. Existing
    *    verdicts are IMMUTABLE: a batch doc that bridges two old
    *    clusters does not merge them (deferred to rebuild), and
    *    survivorship across increments is FIRST-INDEXED-WINS (the
    *    reference's storage.rs convention; equals min-id when crawls
    *    arrive id-ordered).
    *
    * Append is IDEMPOTENT by doc_id: batch ids already present in the
    * physical table are skipped (one narrow anti-join, pinned before
    * the write), so replays repair rather than duplicate, and for
    * id-ordered increments batch-splitting is invariant — appending a
    * crawl in K ordered chunks yields the same table as one chunk
    * (spec-pinned).
    *
    * @return the post-append decision table
    */
  def appendDecisions(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame = {
    import graft.core.Materialize.MatOps
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val base = ensureDecisions(spark, dir)
    val existing = physical(spark, base)
    val newDocs = batch.select("doc_id", "text", "source")
      .join(existing.select("doc_id"), Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true)
    val q = graft.text.TextOps.qualityScoreDocs(newDocs)
      .select(col("doc_id"), col("keep").as("q_keep"), col("score"))
    val rep = Curate.repetitionStatsDocs(newDocs)
      .select(col("doc_id"), col("flagged").as("rep_flagged"))
    val rare = graft.text.Relevance.rarityScoreFrom(newDocs,
        spark.read.parquet(s"$base/models/rarity_idf"))
      .select(col("doc_id"), col("flagged").as("rare_flagged"))
    val lm = graft.text.Relevance.lmScoreFrom(newDocs,
        spark.read.parquet(s"$base/models/lm_pairs"),
        spark.read.parquet(s"$base/models/lm_ctx"))
      .select(col("doc_id"), col("flagged").as("lm_flagged"))
    val dc = Curate.decontaminateFrom(newDocs,
        spark.read.parquet(s"$base/models/decon_grams"))
      .select(col("doc_id"), col("contaminated"))
    val inc = graft.dedup.MinhashIndexStore
      .dedupIncrementalAgainstIndex(newDocs, s"$base/mh")
      .select(col("doc_id"), col("is_dup"))
    // within-batch near-dup survivor: min-id per batch cluster (the
    // dedup_cluster convention restricted to the batch)
    val sets = newDocs.select(col("doc_id"),
      graft.dedup.Dedup.tokenSet.as("s"))
    val labels = graft.dedup.Components.minLabels(
      graft.dedup.Dedup.minhashVerifiedPairs(sets)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val surv = newDocs.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id"))
          .cast("int").as("batch_keep"))
    val dd = inc.join(surv, "doc_id")
      .select(col("doc_id"),
        ((col("is_dup") === 0) && (col("batch_keep") === 1))
          .cast("int").as("dedup_keep"))
    // decide pins the verdicts, and newDocs is pinned, so nothing the
    // appended rows derive from reads the table the append mutates
    val wide = Pipeline.decide(dc, q, rep, rare, lm, dd)
      .join(newDocs.select("doc_id", "source"), "doc_id")
      .select(existing.columns.map(col).toIndexedSeq: _*)
    Sinks.appendBucketed(wide, tableName(base), "doc_id", Buckets)
    // extend the band index with the batch AFTER its verdicts are
    // pinned and its rows landed, so the next increment sees this one
    // as indexed corpus. Passed the FULL batch, not the guarded
    // newDocs: appendToIndex carries its own id guard, so a replay
    // whose decision rows already landed (newDocs empty) still repairs
    // a crashed index half instead of leaving it missing forever.
    graft.dedup.MinhashIndexStore.appendToIndex(
      batch.select("doc_id", "text"), s"$base/mh")
    // return the LIVE view (not the raw catalog table): a tombstoned id
    // whose physical row survives must stay invisible to readers
    decisionTable(spark, dir)
  }

  /** Ensure the decision table exists and is fresh; returns its base
    * path (the stores' shared build-if-missing-or-stale protocol).
    */
  def ensureDecisions(spark: SparkSession, dir: String): String = {
    val base = scratchBase(dir, "decisions")
    // layout-versioned: the embedded band index at $base/mh is the v2
    // group-grain shape — a pre-v2 store would break appendDecisions
    val fp = "dec-v2:" + sourceFingerprint(spark, s"$dir/documents.parquet")
    ensureBuilt(base, fp) { build(spark, dir, base) }
    base
  }

  /** The persisted decision table for a corpus, built if missing or
    * stale (corpus-fingerprint marker). Wide schema: the report's
    * columns + `source` + `score`. Tombstoned rows (see
    * [[deleteDecisions]]) are filtered here, so every reader —
    * the report, the funnel, the scorecard — tracks the live corpus.
    */
  def decisionTable(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureDecisions(spark, dir)
    IndexScratch.live(physical(spark, base),
      IndexScratch.tombstones(spark, base), "doc_id")
  }

  /** Remove docs from the decision table by TOMBSTONE — the
    * crawl-to-crawl removal move ([[appendDecisions]]'s inverse; the
    * reference's diff classifies vanished articles as `deleted`):
    * writes only the merged id set (O(deleted), never O(table)), every
    * reader filters it away, and the store's band index tombstones the
    * same ids (`MinhashIndexStore.deleteFromIndex`) so a deleted doc
    * stops acting as a duplicate SOURCE for future increments. Note
    * what deliberately does NOT change: surviving rows keep their
    * verdicts — a doc whose only near-dup was deleted stays
    * `dedup_keep = 0` until the next fingerprint-triggered rebuild
    * (frozen-verdict contract, same trade as append's bridge caveat).
    *
    * Idempotent (id-set union); unknown ids are no-ops. A deleted id
    * stays deleted even if re-appended ([[appendDecisions]]'s guard
    * keys on physical rows); compact first to resurrect.
    *
    * @return the post-delete (live) decision table
    */
  def deleteDecisions(delIds: DataFrame, dir: String): DataFrame = {
    val spark = delIds.sparkSession
    val base = ensureDecisions(spark, dir)
    val del = delIds.select("doc_id")
    IndexScratch.addTombstones(del, base)
    graft.dedup.MinhashIndexStore.deleteFromIndex(del, s"$base/mh")
    decisionTable(spark, dir)
  }

  /** Fold tombstones into the physical decisions table and the band
    * index (one bucketed rewrite — the separate maintenance pass),
    * then drop the set; afterwards deleted ids can re-append.
    */
  def compactDecisions(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureDecisions(spark, dir)
    IndexScratch.foldInto(spark, IndexScratch.tombstonesPath(base)) { t =>
      IndexScratch.rewriteBucketed(
        IndexScratch.live(physical(spark, base), Some(t), "doc_id"),
        tableName(base), s"$base/decisions", "doc_id", Buckets)
    }
    graft.dedup.MinhashIndexStore.compactIndex(spark, s"$base/mh")
    decisionTable(spark, dir)
  }

  /** One CRAWL-SYNC cycle for the decision table — the curation level
    * of the reference's diff loop (sync_service.rs classifies upstream
    * ids as new / changed / deleted and applies each class): given the
    * FULL `(doc_id, text, source)` frame of the current crawl,
    *  - ids present upstream but absent from the table are NEW → scored
    *    against the frozen models and appended ([[appendDecisions]]);
    *  - ids present in the table but absent upstream are DELETED →
    *    tombstoned, and removed as dup sources ([[deleteDecisions]]).
    * Changed-in-place docs are out of scope here by design: the store's
    * corpus fingerprint already rebuilds on in-place regeneration, and
    * id↔content immutability is the append contract (to change a doc,
    * delete its id and crawl it under a new one).
    *
    * Deletes run FIRST so a same-cycle replacement (old id out, new id
    * in) never has both visible; both halves are idempotent, so a
    * replayed cycle is a no-op. Plan shape: two narrow id anti-joins
    * (table side bucket-scanned) decide the classes; the batch-sized
    * gate scans and O(deleted) tombstone writes do the rest — the
    * upstream corpus text is scanned once, by the gates, for new docs
    * only.
    *
    * @return (n_new appended candidates, n_deleted tombstoned rows)
    */
  def crawlSync(spark: SparkSession, dir: String,
      upstream: DataFrame): (Long, Long) = {
    import graft.core.Materialize.MatOps
    import org.apache.spark.sql.functions.col
    val table = decisionTable(spark, dir)
    val upIds = upstream.select("doc_id").materializeOnce()
    val deleted = table.select("doc_id")
      .join(upIds, Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true) // pin before the table is mutated
    val newIds = upIds
      .join(table.select("doc_id"), Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true)
    val nDeleted = deleted.count()
    if (nDeleted > 0) deleteDecisions(deleted, dir)
    val added = upstream.join(newIds, "doc_id")
    val nNew =
      if (newIds.count() > 0) {
        val beforeN = decisionTable(spark, dir).count()
        appendDecisions(spark, dir, added).count() - beforeN
      } else 0L
    (nNew, nDeleted)
  }

  /** `Pipeline.curationReport` served from the persisted decision
    * table: the plan is the table scan projected to the report's
    * columns — zero gate machinery (spec-pinned, hash-checked against
    * the same oracle as `curation_report`).
    */
  def curationReportIndexed(spark: SparkSession, dir: String): DataFrame =
    decisionTable(spark, dir).select("doc_id", "contaminated", "q_keep",
      "rep_flagged", "rare_flagged", "lm_flagged", "dedup_keep", "keep")

  /** `Pipeline.gateFunnel` served from the persisted decision table:
    * one aggregation pass over the loaded rows, then the 6-row stage
    * explode — no gate re-runs (hash-checked against the same oracle).
    */
  def gateFunnelIndexed(spark: SparkSession, dir: String): DataFrame =
    Pipeline.gateFunnelFrom(decisionTable(spark, dir))

  /** `Pipeline.sourceReputation` served from the persisted decision
    * table — `source` and `score` are already decision columns, so the
    * plan is the table scan plus the one source-keyed aggregation
    * (hash-checked against the same oracle).
    */
  def sourceReputationIndexed(spark: SparkSession, dir: String): DataFrame =
    Pipeline.sourceReputationFrom(decisionTable(spark, dir))
}
