package graft.multimodal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IndexScratch
import graft.core.Materialize.MatOps
import graft.sinks.Sinks

/** Persisted CONTENT-ADDRESSED chunk store over content-defined chunks
  * — the production form of [[Multimodal.mmChunkCdcDedup]], which
  * recomputed every chunk digest corpus-wide per call. A real blob
  * store keeps exactly this state between crawls: append a batch,
  * dedup its chunks against the persisted digest set, tombstone
  * deleted assets — only the batch is ever chunked. Reference
  * analogue: storage.rs's dedup-by-content identity, lifted to chunk
  * grain (the `SpanIndexStore` build/append/replay contract applied to
  * storage dedup).
  *
  * Persisted state per corpus (under `basePath`):
  *  - `chunks/`: the content-addressed store — ONE row per distinct
  *    chunk `(chunk_md5, chunk_bytes)`, BUCKETED by `chunk_md5` so the
  *    append-time digest dedup anti-join bucket-scans the store side
  *    and shuffles only the batch.
  *  - `manifest/`: per-document chunk lists
  *    `(doc_id, off, chunk_bytes, chunk_md5)` — what reassembles a
  *    blob from the store (plain parquet, appended per batch,
  *    id-guarded).
  *  - `meta/`: the max indexed doc_id — the monotone-crawl commit
  *    point ([[SpanIndexStore]]'s guard).
  *  - `tombstones/`: deleted doc_ids, if any delete ever ran — the
  *    live manifest view anti-joins them away (the
  *    `VectorIndexStore.deleteIvfPq` move: a delete writes O(deleted
  *    ids), never O(store)).
  *
  * Replay safety for at-least-once delivery: chunk rows are
  * digest-deduped against the PHYSICAL store (a replayed half can
  * never double-insert a digest), manifest rows are doc_id-guarded,
  * and the meta write is the commit point (written last) — so a crash
  * between writes repairs on retry instead of duplicating. Appending a
  * batch then reading equals rebuilding over the union bit-for-bit
  * (chunk boundaries are position-local functions of each document —
  * the CDC property — so batch composition cannot change any chunk;
  * spec-pinned).
  *
  * Scale shape: per batch, only the batch's text is chunked (one
  * map-side generate of narrow digest rows); history contributes
  * through one anti-join against the md5-bucketed chunks table and one
  * doc-id anti-join against the manifest; appended state is one row
  * per NEW distinct digest plus batch-sized manifest rows. Nothing
  * rewrites or rescans the accumulated corpus.
  */
object ChunkStore {

  private val Buckets = 32

  private def tableName(basePath: String): String =
    "graft_idx_" + IndexScratch.md5hex(basePath).take(10) + "_chunks"

  private def chunks(spark: SparkSession, basePath: String): DataFrame =
    IndexScratch.bucketedTable(spark, tableName(basePath),
      s"$basePath/chunks", "chunk_md5", Buckets)

  /** The PHYSICAL manifest (tombstoned documents included). */
  private def manifest(spark: SparkSession, basePath: String): DataFrame =
    IndexScratch.readRequired(spark, s"$basePath/manifest")

  /** CDC chunk rows of a doc frame — ONE definition with the full-scan
    * entries (`Multimodal.cdcChunksOf`), so the store can never drift
    * from the recompute semantics the oracle replays.
    */
  private def chunksOf(docs: DataFrame): DataFrame =
    Multimodal.cdcChunksOf(docs.sparkSession, docs)

  /** The batch's distinct-digest rows (md5 determines content and
    * therefore bytes, so `first` is well-defined — min for determinism).
    */
  private def digestRows(chunks: DataFrame): DataFrame =
    chunks.groupBy("chunk_md5").agg(min(col("chunk_bytes")).as("chunk_bytes"))

  /** Initial build over the first crawl. */
  def buildChunkStore(docs: DataFrame, basePath: String): Unit = {
    val spark = docs.sparkSession
    val d = docs.select("doc_id", "text").materializeOnce()
    val ch = chunksOf(d).materializeOnce()
    Sinks.writeBucketed(digestRows(ch), tableName(basePath), "chunk_md5",
      Buckets, Some(s"$basePath/chunks"))
    ch.select("doc_id", "off", "chunk_bytes", "chunk_md5")
      .write.mode(SaveMode.Overwrite).parquet(s"$basePath/manifest")
    IndexScratch.writeMeta(spark, basePath,
      "max_doc" -> d.agg(max(col("doc_id"))).head().getLong(0))
  }

  /** Append one new crawl batch: chunk it, store only the digests the
    * store lacks, append its manifest rows, advance the commit point.
    * Monotone-id precondition and replay semantics as in
    * [[SpanIndexStore.appendSpanBatch]] (see the object doc).
    */
  def appendChunkBatch(batch: DataFrame, basePath: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text").materializeOnce()
    if (b.isEmpty) return // an empty crawl batch is a no-op
    val indexedMax = IndexScratch.metaLong(spark, basePath)
    val bounds = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (bounds.getLong(0) <= indexedMax) {
      // replay of a committed batch (every id already manifested) is a
      // no-op; a genuinely out-of-order new batch fails loudly — its
      // ids below the commit point would bypass the id guard's intent
      val unmanifested = b.select("doc_id").distinct()
        .join(manifest(spark, basePath).select("doc_id"),
          Seq("doc_id"), "left_anti")
      require(unmanifested.isEmpty,
        s"appendChunkBatch needs monotone crawl ids: batch min " +
          s"${bounds.getLong(0)} <= indexed max $indexedMax and the batch " +
          "holds unmanifested ids — not a replay of a committed batch")
      return
    }
    val ch = chunksOf(b).materializeOnce()
    // content-addressed dedup: only digests the PHYSICAL store lacks
    // land (pinned before the append reads the table it writes)
    val newDigests = digestRows(ch)
      .join(chunks(spark, basePath).select("chunk_md5"),
        Seq("chunk_md5"), "left_anti")
      .materializeOnce(eager = true)
    // manifest id-guard: a half-committed previous attempt may have
    // landed some rows already (pinned before the append for the same
    // read-what-you-write reason)
    val manifestRows = ch.select("doc_id", "off", "chunk_bytes", "chunk_md5")
      .join(manifest(spark, basePath).select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true)
    Sinks.appendBucketed(newDigests, tableName(basePath), "chunk_md5", Buckets)
    manifestRows.write.mode(SaveMode.Append).parquet(s"$basePath/manifest")
    IndexScratch.writeMeta(spark, basePath, "max_doc" -> bounds.getLong(1))
  }

  /** Tombstone-delete documents from the store: writes only the merged
    * deleted-id set — O(ids deleted so far), never O(store). The live
    * manifest hides their rows; chunks referenced by nothing live stop
    * counting in [[storageStats]] (they remain physically present
    * until [[compactChunkStore]], exactly like a real blob store's
    * deferred garbage collection). Idempotent; unknown ids are no-ops.
    */
  def deleteChunkDocs(delIds: DataFrame, basePath: String): Unit =
    IndexScratch.addTombstones(delIds.select("doc_id"), basePath)

  /** The live manifest: physical rows minus tombstoned documents. */
  def liveManifest(spark: SparkSession, basePath: String): DataFrame =
    IndexScratch.live(manifest(spark, basePath),
      IndexScratch.tombstones(spark, basePath), "doc_id")

  /** Fold tombstones into the physical state: rewrite the manifest
    * without deleted documents, drop store chunks no live manifest row
    * references (the deferred GC), clear the tombstone set. Stats are
    * unchanged (the filter moves from plan to storage).
    */
  def compactChunkStore(spark: SparkSession, basePath: String): Unit =
    IndexScratch.foldInto(spark, IndexScratch.tombstonesPath(basePath)) { t =>
      val live = IndexScratch.live(manifest(spark, basePath), Some(t), "doc_id")
        .materializeOnce(eager = true)
      IndexScratch.rewriteBucketed(chunks(spark, basePath)
          .join(live.select("chunk_md5").distinct(), Seq("chunk_md5"), "left_semi"),
        tableName(basePath), s"$basePath/chunks", "chunk_md5", Buckets)
      Sinks.swapRewrite(spark, s"$basePath/manifest")(
        live.write.mode(SaveMode.Overwrite).parquet(_))
    }

  /** The per-source storage-dedup rollup SERVED FROM THE STORE — the
    * same accounting as the full-scan [[Multimodal.mmChunkCdcDedup]],
    * but totals come from the live manifest and unique-chunk bytes
    * come from the content-addressed CHUNKS table (joined by digest),
    * so a missed append, a duplicated digest row, a lost manifest row,
    * or a mis-sized stored chunk each move a committed number. Work is
    * store-sized (narrow digest rows), never re-chunking the corpus.
    */
  def storageStats(spark: SparkSession, basePath: String,
      docs: DataFrame): DataFrame = {
    val m = liveManifest(spark, basePath)
      .join(docs.select("doc_id", "source"), "doc_id")
    val totals = m.groupBy("source").agg(
      count(lit(1)).as("n_chunks"),
      sum(col("chunk_bytes")).as("total_bytes"))
    val uniques = m.select("source", "chunk_md5").distinct()
      .join(chunks(spark, basePath), "chunk_md5")
      .groupBy("source").agg(
        count(lit(1)).as("n_unique_chunks"),
        sum(col("chunk_bytes")).as("unique_bytes"))
    totals.join(uniques, "source")
      .select(col("source"), col("n_chunks"), col("n_unique_chunks"),
        col("total_bytes"), col("unique_bytes"),
        expr("CAST((1000000 * unique_bytes) DIV total_bytes AS BIGINT)")
          .as("unique_ppm"))
      .orderBy("source") // source-table-sized output: bounded sort
  }

  /** One crawl-SYNC step: absorb the upstream's monotone new slice —
    * the chunk store's entry in the crawl cycle (the `spanSync` shape).
    *
    * @return the number of new documents absorbed
    */
  def chunkSync(upstream: DataFrame, basePath: String): Long =
    IndexScratch.syncAboveMark(upstream, basePath)(appendChunkBatch)

  /** Build-if-missing of the incremental chunk-store verification
    * artifact: the older four-fifths of the corpus builds the store,
    * the newest fifth arrives as one crawl batch (the
    * `ensureSpanIndex` split). Build-only — no tombstones — so the
    * gated entry's oracle can replay the full-scan recompute.
    */
  def ensureChunkStore(spark: SparkSession, dir: String): String = {
    val base = IndexScratch.scratchBase(dir, "chunkstore")
    IndexScratch.ensureBuilt(base,
      IndexScratch.sourceFingerprint(spark, s"$dir/documents.parquet")) {
      IndexScratch.drop(spark, IndexScratch.tombstonesPath(base))
      IndexScratch.buildThenAppend(graft.core.Tables.documents(spark, dir), base)(
        buildChunkStore, appendChunkBatch)
    }
    base
  }

  /** Query entry: the storage-dedup rollup off the batch-built store —
    * hash-checked against the FULL-SCAN `mm_chunk_cdc_dedup` oracle
    * (the incremental construction must be indistinguishable from the
    * corpus-wide recompute; ChunkStoreSpec pins the same equality at
    * the API level plus append == rebuild and crash replay).
    */
  def mmChunkCdcIncremental(spark: SparkSession, dir: String): DataFrame =
    storageStats(spark, ensureChunkStore(spark, dir),
      graft.core.Tables.documents(spark, dir))
}
