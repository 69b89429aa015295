package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Materialize.MatOps

/** Structured Streaming twins of the batch event operators.
  *
  * The reference's outbox poller (outbox.rs: ordered event log drained
  * into queues) maps onto Structured Streaming: a watermarked event-time
  * stream with windowed/sessionized state instead of a polling loop with
  * driver-side bookkeeping. Both transforms are source-agnostic — tests
  * feed them from a MemoryStream, production from Kafka/files — and the
  * identical code shape runs in batch, which is how the specs pin
  * streaming results to the batch oracles.
  *
  * State stays bounded at 100 TB/day rates: the 30-minute watermark
  * evicts closed sessions/windows; keys shard across executors by
  * user_id / window hash.
  */
object Streams {

  /** Normalize an events frame (epoch-ns `ts`) to an event-time column. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ets", timestamp_micros(expr("ts div 1000")))

  /** Gap-based sessionization (30-minute inactivity): `session_window`
    * merges per-user event runs; the watermark closes and emits sessions
    * once event time passes end + gap. Batch twin: graft.analytics
    * .Analytics.sessionize (window-function formulation).
    */
  def eventSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("ets", gap)
      .groupBy(session_window(col("ets"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value")
      )
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value")
      )

  /** Watermarked tumbling-window hourly aggregation. Batch twin:
    * Analytics.windowHourly. Distinct users use the mergeable HLL sketch
    * (approx_count_distinct) — exact distinct is unbounded state on a
    * stream.
    */
  /** Streaming exact dedup by event id — the outbox "deliver once"
    * semantics (outbox.rs dedup-by-batch-key) as a stream: duplicates
    * arriving within the watermark horizon are dropped with bounded
    * state (`dropDuplicatesWithinWatermark` evicts keys once the
    * watermark passes them — a plain dropDuplicates would grow state
    * forever on an unbounded stream). At 100 TB/day the key state
    * shards across executors by event_id hash.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("ets", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** The reference's full outbox loop — poll, dedup by key, drain into
    * ordered batches, bulk-upsert (outbox.rs poller + indexing.rs:61-115
    * chunks) — as one streaming pipeline: watermark-bounded exactly-once
    * dedup, then per-micro-batch deterministic chunk assignment appended
    * through the chunked sink. Each micro-batch directory set is a
    * resumable unit for a downstream bulk loader, and a replayed batch
    * rewrites identical chunks (idempotent, like the reference's ON
    * CONFLICT upserts). Returns the started query; the caller owns its
    * lifecycle.
    */
  def outboxRelay(events: DataFrame, path: String, chunkSize: Int = 100,
                  watermark: String = "1 hour"): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(dedupEvents(events, watermark)) { (batch, batchId) =>
      // dynamic partition overwrite: a REPLAYED micro-batch rewrites
      // its own batch_id partitions instead of appending duplicates —
      // this is what makes the sink actually idempotent, not just
      // deterministic
      graft.sinks.Sinks.withChunks(batch, "event_type", "event_id", chunkSize)
        .withColumn("batch_id", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "event_type", "chunk_id")
        .parquet(path)
    }

  /** Streaming incremental near-dup gate — the reference's continuous
    * poller crossed with the batch `Dedup.dedupIncrementalDocs`: a
    * stream of newly-crawled `(doc_id, text)` documents is flagged per
    * micro-batch against a STATIC existing-corpus frame (the
    * stream-static join pattern), and verdict rows append to a
    * parquet sink keyed by batch. foreachBatch reuses the exact batch
    * operator, so stream output equals the batch result row-for-row (a
    * replayed micro-batch rewrites identical rows — idempotent like the
    * reference's ON CONFLICT upserts). The existing side re-bands per
    * micro-batch here; production persists its `(doc_id, bucket)` index
    * and signature frame instead. Returns the started query; the caller
    * owns its lifecycle.
    */
  def incrementalDedupGate(newDocs: DataFrame, existing: DataFrame,
      path: String): org.apache.spark.sql.streaming.StreamingQuery =
    batchPartitionedSink(newDocs, path)(
      graft.dedup.Dedup.dedupIncrementalDocs(_, existing))

  /** Streaming ANN-index maintenance — the vector-side twin of
    * [[incrementalDedupGate]]: each micro-batch of newly-embedded
    * vectors appends to the PERSISTED IVF-PQ index with frozen
    * quantizers (`VectorIndexStore.appendIvfPq` — batch-only scan, no
    * retraining), so the index serves queries that include vectors
    * embedded minutes ago without ever rebuilding. At-least-once
    * replays are safe because `appendIvfPq` is itself idempotent by
    * vec_id (per-table anti-join inside the append): a replayed
    * micro-batch — or a replay after a crash between the two table
    * appends — inserts only the rows each table is missing.
    */
  def vectorIndexAppend(newVecs: DataFrame,
      basePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newVecs) { (batch, _) =>
      graft.sim.VectorIndexStore.appendIvfPq(batch, basePath)
    }

  /** Streaming SPAN-dedup maintenance — the crawl-batch twin of
    * [[vectorIndexAppend]] for the incremental span store: each
    * micro-batch of `(doc_id, text)` rows trims against the persisted
    * per-gram ownership state and appends its partials + report
    * (`SpanIndexStore.appendSpanBatch`). At-least-once replays are
    * safe by the store's contract: meta is the commit point, the
    * report append is id-guarded, duplicated gram partials are
    * min/max-harmless, and a fully-committed batch re-delivered later
    * is a silent no-op — while a genuinely out-of-order batch (ids
    * below the committed high-water mark that were never reported)
    * fails loudly instead of silently corrupting first-ownership.
    */
  def spanIndexAppend(newDocs: DataFrame,
      basePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs) { (batch, _) =>
      graft.dedup.SpanIndexStore.appendSpanBatch(batch, basePath)
    }

  /** Streaming SEARCH-index maintenance — the postings-side twin of
    * [[vectorIndexAppend]], and the streaming form of the reference's
    * core loop (an article changes upstream; minutes later its search
    * document is current): each micro-batch of crawled `(doc_id,
    * text)` rows runs through `SearchIndexStore.upsertDocs`, which
    * skips unchanged content by `text_hash` (the revision compare),
    * supersedes changed docs at the next generation, and appends new
    * ones — so re-crawls, revisions, and first-sightings all flow
    * through ONE gate. At-least-once replays are safe because the
    * upsert is idempotent end-to-end: identical content is a no-op,
    * and partial failures are repaired by the per-(doc_id, gen)
    * physical guards inside the store.
    */
  def searchIndexUpsert(newDocs: DataFrame,
      basePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs) { (batch, _) =>
      graft.index.SearchIndexStore.upsertDocs(batch, basePath)
    }

  /** Streaming rollup maintenance — the AGGREGATE-state twin of
    * [[vectorIndexAppend]]/[[searchIndexUpsert]]: each micro-batch of
    * events collapses to its pane-grain partial aggregates and lands
    * in the persisted `RollupStore` as the slice keyed by `batchId`
    * (`appendSlice` — the only scan is the batch itself), so the
    * hourly and sliding dashboards serve current numbers from a merge
    * over ~0.1%-of-raw state, never a history re-scan. Idempotence is
    * the canonical foreachBatch recipe: Structured Streaming re-delivers
    * a failed micro-batch under the SAME batchId, and the slice's
    * dynamic-partition overwrite rewrites exactly that partition —
    * unlike the id-guarded stores, the GUARANTEE lives in the
    * batchId↔partition binding, not in row identity.
    */
  def rollupAppend(events: DataFrame,
      basePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(events) { (batch, batchId) =>
      graft.analytics.RollupStore.appendSlice(batch, basePath, batchId)
    }

  /** Streaming semantic-decontamination gate — the embedding twin of
    * [[incrementalDedupGate]]: every micro-batch of newly-embedded
    * vectors is scored against the FIXED eval-suite frame
    * (`Curate.semanticDeconFrom` — the eval pack broadcasts, the batch
    * side never shuffles), so contaminated documents are flagged
    * minutes after embedding instead of at the next corpus sweep.
    * Verdicts land in a batch_id-partitioned parquet sink with dynamic
    * partition overwrite, so a replayed micro-batch rewrites its
    * partition instead of duplicating it (same idempotence contract as
    * the relay/dedup sinks).
    */
  def semanticDeconGate(newVecs: DataFrame, evalVecs: DataFrame,
      path: String): org.apache.spark.sql.streaming.StreamingQuery =
    batchPartitionedSink(newVecs, path)(
      b => graft.curate.Curate.semanticDeconFrom(b, evalVecs))

  /** The ONE batch_id-partitioned dynamic-overwrite sink shared by
    * every per-batch-keyed sink ([[incrementalDedupGate]],
    * [[semanticDeconGate]], [[heavyHitterGauge]],
    * [[crawlNoveltyGauge]]): each non-empty
    * micro-batch's transform lands in its OWN `batch_id` partition, so
    * a crash-redelivered batch REWRITES its partition instead of
    * duplicating it. The idempotence contract holds only when
    * `transform` is a pure function of the batch — which is why it
    * lives in one place: the overwrite-mode options ARE the contract,
    * and a fix to them must reach every sink at once.
    */
  private def batchPartitionedSink(src: DataFrame, path: String)(
      transform: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(src) { (batch, batchId) =>
      transform(batch)
        .withColumn("batch_id", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    }

  /** The append-mode foreachBatch scaffold of the sinks here: `f` sees
    * each non-empty micro-batch with its id. Returns the started query;
    * the caller owns its lifecycle.
    */
  private def eachBatch(src: DataFrame)(f: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    src
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) f(batch.toDF(), batchId)
        ()
      }
      .start()

  /** Streaming KMV distinct-cardinality gauge — the sketch-merge
    * pattern at its natural home: each micro-batch of newly-crawled
    * docs contributes its own bottom-k shingle sketch, which MERGES
    * into the persisted state (`TextOps.sketchMerge` — union's
    * bottom-k IS the merged sketch), so the per-language shingle
    * cardinality estimate stays current without ever re-scanning the
    * corpus. State is langs·k rows regardless of corpus size; replays
    * are idempotent by construction (merging a batch twice is a no-op
    * — the union is a set). The state swap goes through
    * `Sinks.swapRewrite` so a reader never sees a half-written state.
    */
  def distinctSketchGauge(newDocs: DataFrame, statePath: String,
      k: Int = 256): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs) { (batch, _) =>
      val spark = batch.sparkSession
      val batchState = graft.text.TextOps.bottomK(
        graft.text.TextOps.shingleHashes(batch), k)
      val merged = graft.core.IndexScratch.read(spark, statePath)
        .map(graft.text.TextOps.sketchMerge(_, batchState, k))
        .getOrElse(batchState)
      graft.sinks.Sinks.swapRewrite(spark, statePath)(
        merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(_))
    }

  /** Streaming CRAWL-NOVELTY gauge — the live form of `kmv_overlap`'s
    * question: "is this crawl still bringing new content, per
    * language?". Each micro-batch's bottom-k shingle state lands in
    * its OWN `batch_id` partition (a pure function of the batch — a
    * crash-redelivered batch rewrites identical rows via dynamic
    * overwrite, never corrupts: the `heavyHitterGauge` contract, chosen
    * over merge-in-place because a novelty number computed against a
    * state the batch already merged into would silently read as 0 on
    * replay). [[crawlNoveltyRead]] derives the novelty series at read
    * time. State is batches·langs·k rows until
    * [[graft.text.TextOps.sketchMerge]]-based compaction folds history
    * (the cmsCompact move; merge IS the compaction for set-union
    * sketches).
    */
  def crawlNoveltyGauge(newDocs: DataFrame, statePath: String,
      k: Int = 256): org.apache.spark.sql.streaming.StreamingQuery =
    batchPartitionedSink(newDocs, statePath)(
      b => graft.text.TextOps.bottomK(graft.text.TextOps.shingleHashes(b), k))

  /** Location of the PERSISTED novelty-series rows the compaction
    * writes next to a gauge state — one convention so the compactor
    * and the reader can never disagree on where history lives.
    */
  private[graft] def noveltySeriesPath(statePath: String): String =
    statePath.stripSuffix("/") + "_series"

  /** The read side of [[crawlNoveltyGauge]]: fold the per-batch states
    * in batch order and emit each batch's per-language overlap row
    * against the fold of its predecessors (`TextOps.sketchOverlapFrom`
    * — est_old is the corpus-so-far, est_new the batch, novelty_ppm
    * the planner's signal). Deterministic replay of the series from
    * the partitioned states, so a redelivered batch can never corrupt
    * history. After [[crawlNoveltyCompact]] the compacted prefix's
    * rows come from the persisted series and the fold resumes from the
    * RESERVED batch `-1` merged state — the driver-side loop is
    * O(batches since compaction), not O(all batches), and each fold is
    * langs·k rows.
    */
  def crawlNoveltyRead(spark: org.apache.spark.sql.SparkSession,
      statePath: String, k: Int = 256): DataFrame = {
    // before the first non-empty micro-batch lands there is nothing to
    // read — return the empty overlap frame. The guard probes for DATA
    // files, not the directory: a committed batch whose docs were all
    // too short to shingle leaves `_SUCCESS` with no part files, and
    // spark.read.parquet on that THROWS ("unable to infer schema")
    // rather than reading zero rows.
    def emptySeries: DataFrame = {
      import spark.implicits._
      val empty = Seq.empty[(String, Long)].toDF("lang", "h")
      graft.text.TextOps.sketchOverlapFrom(empty, empty, k)
        .withColumn("batch_id", lit(0L))
    }
    if (!graft.core.IndexScratch.hasDataFiles(spark, statePath)) return emptySeries
    val all = spark.read.parquet(statePath)
      .select(col("lang"), col("h"), col("batch_id").cast("long").as("batch_id"))
    val ids = all.select("batch_id").distinct()
      .orderBy("batch_id").collect().map(_.getLong(0))
    if (ids.isEmpty) return emptySeries
    // compacted prefix: its per-batch rows were persisted at compaction
    // time; its merged sketch (batch -1) seeds the live fold
    val seriesPath = noveltySeriesPath(statePath)
    val persisted =
      if (graft.core.IndexScratch.hasDataFiles(spark, seriesPath))
        Some(spark.read.parquet(seriesPath)
          .select(col("lang"), col("est_old"), col("est_new"),
            col("est_union"), col("est_inter"), col("novelty_ppm"),
            col("batch_id").cast("long").as("batch_id")))
      else None
    // FUSED live-tail fold: the prefix state a batch compares against is
    // the bottom-k of the UNION of all earlier states (bottomK(bottomK(X)
    // ∪ Y) = bottomK(X ∪ Y) — the KMV merge identity, applied once
    // instead of per fold step), so EVERY live batch's prefix sketch and
    // overlap row computes in ONE grouped plan keyed by (batch_id, lang).
    // The sequential acc-merge fold this replaces built a stage chain
    // whose depth grew with the live tail (measured ~40 sub-0.15 s serial
    // stages at sf0.1 — pure scheduling floor); values are identical
    // (same rows, same estimates — the series stays under the hash gate).
    // Cost note: baseRows is O(B²·langs·k) for B live batches (each
    // target replicates its prefix states) — fine under the compaction
    // protocol that keeps B small, and each row is two longs; a gauge
    // run with compaction disabled and thousands of live batches should
    // prefer the linear fold this replaced.
    val live = ids.filter(_ >= 0L)
    val outs =
      if (live.isEmpty) None
      else {
        import spark.implicits._
        // prefix relation: every state strictly earlier than the target
        // batch (the reserved -1 merged prefix precedes every target),
        // expanded driver-side from the already-collected id list so the
        // join is an EQUI-join on batch_id (an inequality condition
        // would plan the BroadcastNestedLoopJoin the plan audit bans);
        // distinct per target before ranking — a hash present in two
        // earlier batches must count once (union semantics)
        val predecessors = (for { t <- live; s <- ids if s < t } yield (s, t))
          .toSeq.toDF("batch_id", "batch_id_t")
        val baseRows = all.join(broadcast(predecessors), Seq("batch_id"))
          .select(col("batch_id_t").as("batch_id"), col("lang"), col("h"))
          .distinct()
        val base = graft.text.TextOps.bottomKBy(baseRows, k,
          Seq("batch_id", "lang"))
        val newRows = all.filter(col("batch_id") >= 0L)
          .select(col("batch_id"), col("lang"), col("h"))
        Some(graft.text.TextOps
          .sketchOverlapBy(base, newRows, k, Seq("batch_id", "lang"))
          .select(col("lang"), col("est_old"), col("est_new"),
            col("est_union"), col("est_inter"), col("novelty_ppm"),
            col("batch_id")))
      }
    (persisted.toSeq ++ outs.toSeq).reduceOption(_ unionByName _)
      .getOrElse(emptySeries)
  }

  /** COMPACTION for the crawl-novelty state — the documented
    * "cmsCompact move" made real, shaped for a gauge whose read is a
    * SERIES, not a single fold: batches strictly below `beforeBatch`
    * fold into (a) their computed novelty rows, persisted under
    * [[noveltySeriesPath]] (each in its own batch_id partition,
    * dynamic overwrite — recompaction is idempotent), and (b) ONE
    * merged prefix sketch under the RESERVED batch `-1` (micro-batch
    * ids are nonnegative, so a future batch can never collide),
    * swapped into the state via the staged rename so a concurrent
    * reader never sees a mix. Set-union merge is associative and the
    * persisted rows are exactly what the fold would have produced, so
    * compacted-then-read equals read — exactly (spec-pinned).
    *
    * `beforeBatch` is the replay fence against a live stream (the
    * cmsCompact contract): pass the committed-batch floor so a
    * sink-written but uncommitted batch is never folded; the default
    * compacts everything and is for quiesced states.
    */
  def crawlNoveltyCompact(spark: org.apache.spark.sql.SparkSession,
      statePath: String, k: Int = 256,
      beforeBatch: Long = Long.MaxValue): Unit = {
    if (!graft.core.IndexScratch.hasDataFiles(spark, statePath)) return
    val all = spark.read.parquet(statePath)
      .select(col("lang"), col("h"), col("batch_id").cast("long").as("batch_id"))
      .materializeOnce() // pinned: the swap below rewrites what it read
    val ids = all.select("batch_id").distinct()
      .orderBy("batch_id").collect().map(_.getLong(0))
    val fold = ids.filter(id => id >= 0L && id < beforeBatch)
    if (fold.isEmpty) return
    var acc: DataFrame =
      if (ids.contains(-1L))
        all.filter(col("batch_id") === -1L).select("lang", "h").materializeOnce()
      else null
    val rows = fold.map { id =>
      val st = all.filter(col("batch_id") === id).select("lang", "h")
      val base = if (acc == null) st.limit(0) else acc
      val out = graft.text.TextOps.sketchOverlapFrom(base, st, k)
        .withColumn("batch_id", lit(id))
      acc =
        if (acc == null) st.materializeOnce()
        else graft.text.TextOps.sketchMerge(acc, st, k).materializeOnce()
      out
    }
    // series rows first, state swap second: a crash between the two
    // leaves the state untouched (rows are rewritten identically on
    // retry — pure functions of the immutable batch partitions)
    rows.reduce(_ unionByName _)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(noveltySeriesPath(statePath))
    // an existing -1 prefix was folded into acc above; keep only the
    // unfolded tail batches beside the refreshed merged prefix
    val tail = all.filter(col("batch_id") >= 0L &&
      col("batch_id") >= lit(beforeBatch))
    graft.sinks.Sinks.swapRewrite(spark,
      acc.withColumn("batch_id", lit(-1L)).unionByName(tail),
      statePath, partitionCols = Seq("batch_id"))
  }

  /** Build-if-missing of the crawl-novelty verification artifact: the
    * documents table split into four deterministic crawl batches
    * (`doc_id % 4` plays the micro-batch cadence), each batch's
    * bottom-k shingle state landed in its own `batch_id` partition
    * (the [[crawlNoveltyGauge]] transform and sink options), then the
    * first TWO batches compacted — so the persisted artifact holds the
    * full lifecycle the production gauge reaches: persisted series
    * rows + merged `-1` prefix + live tail batches, all read through
    * one [[crawlNoveltyRead]] call and all under the hash gate (the
    * oracle re-derives every batch's row from the documents table).
    */
  def ensureNoveltyStates(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 256): String = {
    val base = graft.core.IndexScratch.scratchBase(dir, "novelty")
    val statePath = s"$base/states"
    graft.core.IndexScratch.ensureBuilt(base,
      graft.core.IndexScratch.sourceFingerprint(spark, s"$dir/documents.parquet")) {
      // a crashed previous attempt may have left partial state/series
      // dirs; the build below only dynamic-overwrites matching
      // partitions, so clear both for a clean rebuild
      Seq(statePath, noveltySeriesPath(statePath)).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
      }
      val docs = graft.core.Tables.documents(spark, dir)
      (0 until 4).foreach { b =>
        val batch = docs.filter(pmod(col("doc_id"), lit(4)) === b)
        graft.text.TextOps.bottomK(
            graft.text.TextOps.shingleHashes(batch), k)
          .withColumn("batch_id", lit(b.toLong))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(statePath)
      }
      crawlNoveltyCompact(spark, statePath, k, beforeBatch = 2L)
    }
    statePath
  }

  /** Query-entry form of the crawl-novelty series over the persisted
    * artifact of [[ensureNoveltyStates]] — per (batch, language), the
    * corpus-so-far / batch / union / intersection estimates and the
    * novelty share a crawl planner watches batch over batch. Sorted
    * for readable diffs (batches × langs rows — bounded).
    */
  def crawlNovelty(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    crawlNoveltyRead(spark, ensureNoveltyStates(spark, dir))
      .orderBy("batch_id", "lang")

  /** Streaming HEAVY-HITTER (Count-Min) gauge — the frequency member
    * of the sketch-gauge family. Counters merge by ADDITION, which is
    * not idempotent, so unlike the set-union gauges this one cannot
    * blind-merge into its state: each micro-batch's CMS lands in its
    * own `batch_id` partition (dynamic overwrite — a crash-redelivered
    * batch carries the same batchId and rewrites, never double-counts;
    * the rollupAppend contract), and `TextOps.cmsLoad` folds the
    * partitions into the live sketch at read time. State is
    * batches·langs·d·w counters until `TextOps.cmsCompact` folds the
    * history into the reserved batch `-1`.
    */
  def heavyHitterGauge(newDocs: DataFrame,
      statePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    batchPartitionedSink(newDocs, statePath)(
      b => graft.text.TextOps.cmsState(graft.text.TextOps.shingleOccurrences(b)))

  /** Streaming DECISION-TABLE maintenance — the curation level of the
    * reference's sync loop (`VectorIndexAppend`'s decision twin): each
    * micro-batch of newly-crawled `(doc_id, text, source)` docs is
    * scored against the store's FROZEN gate models and appended to the
    * persisted decision table (`DecisionStore.appendDecisions` — which
    * also extends the band index, so later batches see earlier ones as
    * indexed corpus). Replays are idempotent through the store's own
    * insert-only id guard, so at-least-once delivery is safe; ordered
    * batches land the same table as one batch (the append contract's
    * split-invariance).
    */
  def decisionAppendGate(newDocs: DataFrame,
      dir: String): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs) { (batch, _) =>
      graft.curate.DecisionStore.appendDecisions(batch.sparkSession, dir, batch)
    }

  /** Streaming QUANTILE-sketch gauge — `distinctSketchGauge`'s twin
    * for the deterministic bottom-k quantile sample: each micro-batch
    * of newly-crawled docs contributes its scored sample state
    * (`TextOps.quantileBottomK` over the batch's quality scores), which
    * merges into the persisted state by the same union-bottom-k law, so
    * per-language score percentiles (`TextOps.quantileSketchEstimate`)
    * stay current without re-scoring the corpus. State is langs·k rows
    * at any corpus size; replays are idempotent (set union); the swap
    * goes through `Sinks.swapRewrite` so readers never see a
    * half-written state.
    */
  def quantileSketchGauge(newDocs: DataFrame, statePath: String,
      k: Int = 256): org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(newDocs) { (batch, _) =>
      val spark = batch.sparkSession
      val batchState = graft.text.TextOps.quantileBottomK(
        graft.text.TextOps.scoreHashesDocs(batch), k)
      val merged = graft.core.IndexScratch.read(spark, statePath)
        .map(graft.text.TextOps.quantileSketchMerge(_, batchState, k))
        .getOrElse(batchState)
      graft.sinks.Sinks.swapRewrite(spark, statePath)(
        merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(_))
    }

  /** One open session per user held in the state store by
    * `eventSessionsCustom`: bounds in epoch-nanos (full source
    * precision), the running count, and the value sum in exact cents.
    */
  case class OpenSession(startNs: Long, endNs: Long, n: Long, cents: Long)

  /** A closed session as `eventSessionsCustom` emits it. */
  case class ClosedSession(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, session_value: Double)

  /** Input row shape for `eventSessionsCustom` (public: the Dataset
    * encoder's generated code constructs it reflectively).
    */
  case class SessIn(user_id: Long, ts: Long,
      ets: java.sql.Timestamp, value: Double)

  /** Gap-based sessionization with EXPLICIT custom state —
    * `flatMapGroupsWithState` + event-time timeout — the
    * KeyValueGroupedDataset form of `eventSessions` for session logic
    * `session_window` cannot express (per-session derived metrics,
    * value caps, custom merge rules). One `OpenSession` per user lives
    * in the state store; events within a micro-batch are sorted and
    * folded in nanosecond precision (closing a session whenever the gap
    * exceeds 30 minutes, exactly the batch operator's rule), closed
    * sessions emit immediately, and the event-time timeout flushes the
    * open session once the watermark passes its end + gap — so state is
    * bounded by distinct active users, not stream length. Values
    * accumulate in integer cents (the inputs are 2-decimal) so sums
    * match the batch DECIMAL aggregation exactly. Cross-batch late
    * events merge while the session is still open — the watermark bound
    * every streaming sessionizer shares.
    */
  def eventSessionsCustom(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapNs = gapMinutes * 60L * 1000000000L
    def close(u: Long, o: OpenSession): ClosedSession =
      ClosedSession(u, o.startNs / 1000, o.endNs / 1000, o.n, o.cents / 100.0)
    def fold(user: Long, it: Iterator[SessIn],
        state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(user, _)).iterator
        state.remove()
        out
      } else {
        val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
        var open = state.getOption
        it.toSeq.sortBy(_.ts).foreach { e =>
          val cents = math.round(e.value * 100)
          open match {
            // merge iff the event lands within gap of the session INTERVAL
            // (not a signed diff against end: an event within gap of the
            // start extends the start downward). Fidelity bound: with ONE
            // open session in state, only events within gap of that
            // interval merge exactly; a cross-batch late event EARLIER
            // than start - gap closes the open (later) session and starts
            // an earlier one, so a subsequent event could open a session
            // overlapping the one just emitted. In-watermark-order
            // streams (and any single batch, which is sorted here) match
            // the batch operator's consecutive-gap rule exactly.
            case Some(o) if e.ts >= o.startNs - gapNs && e.ts <= o.endNs + gapNs =>
              open = Some(OpenSession(math.min(o.startNs, e.ts), math.max(o.endNs, e.ts),
                o.n + 1, o.cents + cents))
            case Some(o) =>
              out += close(user, o)
              open = Some(OpenSession(e.ts, e.ts, 1, cents))
            case None =>
              open = Some(OpenSession(e.ts, e.ts, 1, cents))
          }
        }
        open.foreach { o =>
          state.update(o)
          state.setTimeoutTimestamp(o.endNs / 1000000 + gapMinutes * 60L * 1000 + 1)
        }
        out.iterator
      }
    }
    withEventTime(events)
      .select(col("user_id"), col("ts"), col("ets"), col("value"))
      .withWatermark("ets", s"$gapMinutes minutes")
      .as[SessIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fold)
      .toDF()
  }

  /** Stream-stream click→purchase attribution: every purchase joined to
    * the same user's clicks from the preceding hour. Both sides carry a
    * watermark and the join predicate bounds the event-time distance, so
    * Spark can evict click state once the watermark passes `click time +
    * horizon` — the state store holds one hour of clicks per user shard,
    * not the stream's history. The identical plan runs in batch (the
    * spec pins streaming output to it). This is the streaming form of
    * the as-of/enrichment joins the reference's poller does against
    * recently-synced rows.
    */
  def clickAttribution(events: DataFrame): DataFrame = {
    val clicks = withEventTime(events.filter(col("event_type") === "click"))
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ets").as("c_ets"))
      .withWatermark("c_ets", "1 hour")
    val purchases = withEventTime(events.filter(col("event_type") === "purchase"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ets").as("p_ets"))
      .withWatermark("p_ets", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ets") <= col("p_ets") &&
        col("c_ets") >= col("p_ets") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("p_ets"), col("c_ets"))
  }

  def hourlyCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")
      )
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n_events"), col("approx_users"), col("total_value")
      )

  /** Watermarked SLIDING-window aggregation (1 h window, 15 min slide) —
    * the streaming twin of `Analytics.windowSliding`. Spark's `window()`
    * with a slide materializes each event's 4 memberships exactly like
    * the batch operator's map-side generate; the watermark bounds state
    * to the open windows (4 per key at any instant) and late data merges
    * until window end + delay passes the watermark. Same declarative
    * plan shape in both modes, so the spec pins the streaming output to
    * the batch twin row-for-row.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour", "15 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")
      )
      .select(
        col("window.start").as("win_start"),
        col("n_events"), col("total_value")
      )

  // --- live ops-dashboard gauges (web.rs:729-816 stats_ws) ---------------

  /** Live queue-depth gauge — the streaming twin of the reference's
    * stats WebSocket push (web.rs:729 `stats_ws` / `stats_ws_handler`,
    * which streams `fetch_queue_stats` gauges to dashboards on every
    * poll tick): the event stream folds into the SAME aggregation as
    * the batch `Sync.queueDepthStats` (shared core, so the numbers
    * cannot drift), run in Complete output mode — each micro-batch
    * emits the full refreshed gauge frame, exactly a dashboard push.
    * State is namespace-sized (one running row of six counters per
    * queue namespace), so it is bounded at any stream length — gauges
    * are cumulative by definition and need no watermark. The spec pins
    * every micro-batch's emission to the batch operator over the
    * prefix of events consumed so far.
    */
  def queueDepthGauge(events: DataFrame): DataFrame =
    graft.sync.Sync.queueDepthFrom(events)

  /** Live sync-status gauge — the `sync_status_rollup` half of the
    * stats push (web.rs:729 streams sync gauges alongside queue
    * gauges): the synced-articles stream (orders rows) folds into the
    * batch operator's shared core in Complete mode. State is one row
    * per (dictionary, sync_status) — bounded by the dictionary set,
    * not stream length.
    */
  def syncStatusGauge(orders: DataFrame): DataFrame =
    graft.sync.Sync.statusRollupFrom(orders)

  /** Live alert feed — the streaming twin of `alert_rollup` (the
    * matrix-notifier input, matrix_notify_service.rs:114
    * `send_message` fed by threshold breaches on the health gauges):
    * the event stream folds into the batch operator's SINGLE
    * streaming-legal gauge aggregation (`Sync.alertGaugesFrom`) in
    * Complete mode, and each micro-batch emission — the full refreshed
    * (event_type, backlog, dead, pending) gauge frame — re-derives the
    * breach rows with the batch `alertsFromGauges` inside
    * `foreachBatch` ([[alertFeed]]). The split matters: the breach
    * logic needs cross-namespace averages (window over the aggregate),
    * which streaming cannot chain after an aggregation, but the gauge
    * frame is namespace-counted (tiny), so deriving breaches per tick
    * is constant work — exactly what the reference's notifier does per
    * poll. State is bounded by the namespace set at any stream length.
    */
  def alertGauge(events: DataFrame): DataFrame =
    graft.sync.Sync.alertGaugesFrom(events)

  /** Breach derivation for one Complete-mode emission of
    * [[alertGauge]] — the per-tick half of the alert feed, shared with
    * the batch `alert_rollup` so the live and batch alert sets cannot
    * drift.
    */
  def alertsFromGauges(gauges: DataFrame): DataFrame =
    graft.sync.Sync.alertsFromGauges(gauges)

  /** The assembled notifier feed: every micro-batch, `publish` receives
    * the CURRENT full breach frame (what the notifier would fan out as
    * messages — Complete-mode semantics, matching the reference's
    * poll-and-push loop). Returns the running query; callers own stop().
    */
  def alertFeed(events: DataFrame)(publish: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    alertGauge(events).writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .foreachBatch { (g: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        publish(alertsFromGauges(g))
      }
      .start()

  /** Watermarked INCREMENTAL queue depth — per-hour namespace depth
    * deltas in Append mode, for the dashboard's "activity over the
    * last N hours" strip (the windowed complement of the cumulative
    * [[queueDepthGauge]]). The 1-hour watermark closes each window and
    * evicts its state, so unlike the Complete gauge this emits each
    * window exactly once and holds only the open windows in state.
    */
  def queueDepthWindowed(events: DataFrame): DataFrame = {
    val state = expr(
      """CASE CAST(event_id % 6 AS INT)
        |  WHEN 0 THEN 'pending' WHEN 1 THEN 'running' WHEN 2 THEN 'failed'
        |  WHEN 3 THEN 'dead' WHEN 4 THEN 'scheduled' ELSE 'done' END""".stripMargin)
    def n(s: String) = sum(when(col("state") === s, 1L).otherwise(0L)).as(s)
    withEventTime(events)
      .withWatermark("ets", "1 hour")
      .select(col("ets"), col("event_type").as("namespace"), state.as("state"))
      .groupBy(window(col("ets"), "1 hour"), col("namespace"))
      .agg(n("pending"), n("running"), n("failed"), n("dead"),
        n("scheduled"), n("done"))
      .withColumn("backlog", col("pending") + col("running") + col("scheduled"))
      .select(col("window.start").as("hour_start"), col("namespace"),
        col("pending"), col("running"), col("failed"), col("dead"),
        col("scheduled"), col("done"), col("backlog"))
  }
}
