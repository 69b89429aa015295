package graft.dedup

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IndexScratch
import graft.core.Materialize.MatOps
import graft.sinks.Sinks

/** Incremental CROSS-DOC SPAN dedup — the crawl-to-crawl form of the
  * `span_dedup`/`span_trim` family, which recomputed corpus-wide
  * positional grams on every call (the last recompute-only dedup
  * family). Reference analogue: the diff-driven sync loop
  * (sync_service.rs new/changed classes) applied to Lee et al.-style
  * span removal.
  *
  * Persisted state per corpus (under `basePath`):
  *  - `grams/`: per-gram ownership partials `(g, dmin, dmax)`, BUCKETED
  *    by `g` — one row per (gram, batch). min/max are associative, so
  *    appended partials re-aggregate to exactly the full-corpus state:
  *    a gram is cross-doc duplicated iff min(dmin) ≠ max(dmax) (the
  *    `spanGrams` min≠max trick), and its first owner is min(dmin).
  *  - `report/`: the per-document `span_trim` rows of every batch
  *    processed so far (plain parquet, appended per batch).
  *  - `meta/`: the max indexed doc_id — the monotonicity guard.
  *
  * Why appending works (the `appendLabels` argument): with MONOTONE
  * crawl ids (every new batch's ids exceed all indexed ids), a new
  * batch can never change an OLD document's trim report. A gram that
  * first becomes duplicated through a new doc has its first owner in
  * the old corpus — and the owner KEEPS its copy, so the old doc's
  * report is already correct; a gram already duplicated among old docs
  * changed nothing. New-batch positions are trimmed against the MERGED
  * gram state (old partials ∪ batch partials), so within-batch and
  * batch-vs-history duplication are both caught. [[appendSpanBatch]]
  * enforces the monotone-id precondition loudly instead of silently
  * drifting from the full-scan semantics.
  *
  * Scale shape: per batch, only the batch's text is scanned (narrow
  * `(doc_id, pos, g)` rows); the history contributes through one join
  * against the g-bucketed gram table (bucket-scanned — only the
  * batch-sized key set shuffles); appended state is one row per
  * distinct batch gram; the report append is batch-sized. Nothing ever
  * rewrites or rescans the accumulated corpus.
  */
object SpanIndexStore {

  private val Buckets = 32
  private val N = 3

  private def tableName(basePath: String): String =
    "graft_idx_" + IndexScratch.md5hex(basePath).take(10) + "_spangrams"

  /** Per-gram ownership partial of one document frame. */
  private def gramState(docs: DataFrame): DataFrame =
    Dedup.spanGramsOf(docs, N).groupBy("g")
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))

  /** Initial build over the first crawl: gram partials + its trim
    * report (the plain full-scan `spanTrimDocs` — the first batch HAS
    * no history).
    */
  def buildSpanIndex(docs: DataFrame, basePath: String): Unit = {
    val spark = docs.sparkSession
    val d = docs.select("doc_id", "text").materializeOnce()
    Sinks.writeBucketed(gramState(d), tableName(basePath), "g",
      Buckets, Some(s"$basePath/grams"))
    Dedup.spanTrimDocs(d, N).write.mode(SaveMode.Overwrite)
      .parquet(s"$basePath/report")
    IndexScratch.writeMeta(spark, basePath,
      "max_doc" -> d.agg(max(col("doc_id"))).head().getLong(0))
  }

  /** Process one new crawl batch: trim it against the merged gram
    * state, append its gram partials and report rows. Old documents'
    * rows are untouched by construction (see the class doc); the
    * monotone-id precondition that construction rests on is enforced
    * here.
    *
    * REPLAY-SAFE for at-least-once delivery (the store contract every
    * crawl gate shares): the meta max-id write is the COMMIT POINT
    * (written last), the report append is id-guarded (only doc_ids the
    * report doesn't already hold land — a crash between the report
    * write and the meta write repairs instead of duplicating on
    * retry), and duplicated gram PARTIALS from a replayed half are
    * harmless by construction (min/max over duplicated partials is the
    * same min/max). A fully-committed batch re-delivered later (ids ≤
    * indexed max, every id already reported) is a silent no-op; a
    * genuinely out-of-order NEW batch still fails loudly.
    */
  def appendSpanBatch(batch: DataFrame, basePath: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text").materializeOnce()
    if (b.isEmpty) return // an empty crawl batch is a no-op, not an NPE
    val indexedMax = IndexScratch.metaLong(spark, basePath)
    val batchBounds = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (batchBounds.getLong(0) <= indexedMax) {
      // ids at or below the commit point: either a full replay of a
      // committed batch (every id already reported → no-op) or a true
      // ordering violation (reject — out-of-order ids could re-own
      // grams and invalidate committed reports)
      val unreported = b.select("doc_id")
        .join(spark.read.parquet(s"$basePath/report").select("doc_id"),
          Seq("doc_id"), "left_anti")
      require(unreported.isEmpty,
        s"appendSpanBatch needs monotone crawl ids: batch min " +
          s"${batchBounds.getLong(0)} <= indexed max $indexedMax and the " +
          "batch holds unreported ids — not a replay of a committed batch")
      return
    }
    // batch positional grams feed both the state partial and the match
    val grams = Dedup.spanGramsOf(b, N).materializeOnce()
    val batchState = grams.groupBy("g")
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .materializeOnce(eager = true) // pinned before the table it reads from is appended to
    val old = IndexScratch.bucketedTable(spark, tableName(basePath),
      s"$basePath/grams", "g", Buckets)
    // merged per-gram state restricted to the BATCH's grams — the only
    // grams that can affect the batch report. The old side bucket-scans.
    val merged = old.join(batchState.select("g"), Seq("g"), "left_semi")
      .unionByName(batchState)
      .groupBy("g")
      .agg(min(col("dmin")).as("dmin"), max(col("dmax")).as("dmax"))
    val dupG = merged.filter(col("dmin") =!= col("dmax"))
      .select(col("g"), col("dmin").as("d0"))
    val matched = grams.join(dupG, "g")
      .filter(col("doc_id") =!= col("d0"))
      .select("doc_id", "pos")
    // id-guard against the CURRENT report, pinned before the append
    // reads the path it writes (a half-committed previous attempt may
    // have landed some of these rows already)
    val report = Dedup.spanTrimReport(b, Dedup.trimIntervals(matched, N))
      .join(spark.read.parquet(s"$basePath/report").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true)
    Sinks.appendBucketed(batchState, tableName(basePath), "g", Buckets)
    report.write.mode(SaveMode.Append).parquet(s"$basePath/report")
    IndexScratch.writeMeta(spark, basePath, "max_doc" -> batchBounds.getLong(1))
  }

  /** One crawl-SYNC step: absorb the upstream's monotone NEW slice
    * (ids above the committed high-water mark) — the span store's
    * entry in `Pipeline.crawlCycle`. Owns the meta/commit-point
    * knowledge so callers never read the store's layout directly.
    * Vanished documents are out of scope by design: trim reports are
    * append-only crawl history (first-owner-keeps is stable under
    * monotone ids); removing a document's report means a rebuild.
    *
    * @return the number of new documents absorbed
    */
  def spanSync(upstream: DataFrame, basePath: String): Long =
    IndexScratch.syncAboveMark(upstream, basePath)(appendSpanBatch)

  /** Build-if-missing of the incremental-span verification artifact:
    * the older four-fifths of the corpus (by doc_id — the monotone-id
    * split) builds the index, the newest fifth arrives as one crawl
    * batch through [[appendSpanBatch]]. Deterministic given the corpus.
    */
  def ensureSpanIndex(spark: SparkSession, dir: String): String = {
    val base = IndexScratch.scratchBase(dir, "spaninc")
    IndexScratch.ensureBuilt(base,
      IndexScratch.sourceFingerprint(spark, s"$dir/documents.parquet")) {
      IndexScratch.buildThenAppend(graft.core.Tables.documents(spark, dir), base)(
        buildSpanIndex, appendSpanBatch)
    }
    base
  }

  /** Query entry: the accumulated per-document trim report — built
    * batch-by-batch, hash-checked against the FULL-SCAN `span_trim`
    * oracle over the whole corpus (the incremental construction must
    * be indistinguishable from the recompute; SpanIndexSpec pins the
    * same equality at the API level plus old-rows-untouched).
    */
  def spanTrimIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureSpanIndex(spark, dir)
    spark.read.parquet(s"$base/report")
      .select("doc_id", "n_tokens", "dup_tokens", "n_spans", "keep_ratio6")
  }
}
