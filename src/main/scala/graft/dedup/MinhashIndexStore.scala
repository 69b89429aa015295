package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize.MatOps
import graft.core.{Decisions, IndexScratch, Tables}
import graft.functions.GraftFunctions
import graft.core.IndexScratch.{ensureBuilt, scratchBase, sourceFingerprint}
import graft.sinks.Sinks

/** Persisted MinHash dedup index — the between-crawls artifact
  * `Dedup.dedupIncrementalDocs`'s contract has always named ("at 100 TB
  * the existing side is the persisted (doc_id, bucket) index from the
  * last run") and this module finally materializes: the existing
  * corpus's signatures are CANONICALIZED (one row per distinct sorted
  * set — the `minhashVerifiedPairs` move, persisted) and banded once,
  * and every subsequent batch gate LOADS them, so only the new batch —
  * typically orders of magnitude smaller than the corpus — computes
  * signatures per run, and every quadratic stage (candidates, the
  * merge-walk verify) runs on DISTINCT SETS, never on documents.
  *
  * Layout under `basePath` (sink toolkit):
  *  - `sets/` `(doc_id, s sorted array<int64>)`, bucketed by `doc_id`:
  *    one row per distinct set in its append batch; `doc_id` here is
  *    the GROUP KEY (the batch-min member id) — an opaque identifier,
  *    not necessarily a live document. The verification join shuffles
  *    only candidate rep pairs; this frame is never exchanged.
  *  - `banded/` `(doc_id, bucket)` at GROUP grain, bucketed by
  *    `bucket`: candidate generation broadcasts the new batch's bands
  *    against it — an index-side scan with zero Exchange.
  *  - `members/` `(rep, doc_id)` narrow member map, bucketed by `rep`:
  *    per-group live stats aggregate bucket-aligned (zero Exchange),
  *    and verified rep pairs expand back to document pairs through it.
  *
  * Canonicalization is BATCH-scoped: an append whose set already
  * exists in the index founds a second group with the same `s` rather
  * than mutating the existing group's member list (append-only tables;
  * the two groups share every band bucket, verify at Jaccard 1, and
  * the expansion covers their cross pairs — output-identical, just
  * less compression until a fingerprint rebuild re-canonicalizes).
  *
  * The query path is the BIPARTITE production shape (new × existing
  * only — never existing × existing, which the one-shot
  * `dedupIncremental` pays per call), with the same banding parameters
  * and the same exact merge-walk verification, so its output equals
  * `dedupIncrementalDocs` row-for-row (spec-pinned, and the query entry
  * hash-checks against the SAME DuckDB oracle as `dedup_incremental`).
  */
object MinhashIndexStore {

  private val Buckets = 32

  private def tableName(basePath: String, part: String): String =
    "graft_mhidx_" + IndexScratch.md5hex(basePath).take(10) + "_" + part

  /** Bucket key of each persisted part. */
  private val PartKeys = Map("sets" -> "doc_id", "banded" -> "bucket",
    "members" -> "rep", "labels" -> "cluster")

  /** The PHYSICAL bucketed table of an index part (tombstoned rows
    * included) — what append guards key on.
    */
  private def physical(spark: SparkSession, basePath: String,
      part: String): DataFrame =
    IndexScratch.bucketedTable(spark, tableName(basePath, part),
      s"$basePath/$part", PartKeys(part), Buckets)

  /** An index part minus tombstoned documents. */
  private def liveTable(spark: SparkSession, basePath: String,
      part: String): DataFrame =
    IndexScratch.live(physical(spark, basePath, part),
      IndexScratch.tombstones(spark, basePath), "doc_id")

  private def rewrite(df: DataFrame, basePath: String, part: String): Unit =
    IndexScratch.rewriteBucketed(df, tableName(basePath, part),
      s"$basePath/$part", PartKeys(part), Buckets)

  /** Word-token signature sets, sorted for merge-walk verification —
    * identical to `Dedup.dedupIncrementalDocs`'s per-side projection.
    */
  private def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.sortedTokenSet.as("s"))

  /** Canonical distinct-set groups of a doc batch:
    * `(rep, s, members)` with `rep` the batch-min member id.
    */
  private def groupsOf(docs: DataFrame): DataFrame = {
    // width-pinned canonicalize (see Dedup.minhashVerifiedPairs): the
    // explicit-count repartition replaces the agg's own exchange and
    // keeps the pinned groups frame at session width instead of the
    // single partition AQE byte-coalesces it to
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    signatures(docs)
      .repartition(np, col("s"))
      .groupBy("s")
      .agg(min(col("doc_id")).as("rep"),
        collect_list(col("doc_id")).as("members"))
  }

  private def banded(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      explode(call_function("minhash_band_buckets", col("s"), lit(64))).as("bucket"))

  /** Index the existing corpus: one signature pass, one canonicalize
    * shuffle, three bucketed writes.
    */
  def build(docs: DataFrame, basePath: String): Unit = {
    val spark = docs.sparkSession
    GraftFunctions.register(spark)
    val groups = groupsOf(docs).materializeOnce(eager = true)
    val sets = groups.select(col("rep").as("doc_id"), col("s"))
    Sinks.writeBucketed(sets, tableName(basePath, "sets"), "doc_id",
      Buckets, Some(s"$basePath/sets"))
    Sinks.writeBucketed(banded(sets), tableName(basePath, "banded"), "bucket",
      Buckets, Some(s"$basePath/banded"))
    Sinks.writeBucketed(
      groups.select(col("rep"), explode(col("members")).as("doc_id")),
      tableName(basePath, "members"), "rep", Buckets,
      Some(s"$basePath/members"))
  }

  /** A new batch at or under `1/SmallBatchDenom` of the indexed corpus
    * takes the broadcast-bipartite path; above it the adaptive
    * machinery wins. The crossover is where raw per-bucket mixed pairs
    * (|new∩b|·|old∩b| per bucket — quadratic in hot buckets) start to
    * dominate the star-edge/CC/grid overhead: measured at sf0.1, a 20%
    * "batch" costs 10 s bipartite vs ~4 s adaptive, while a true crawl
    * increment (≤ a few %) is strictly cheaper bipartite because the
    * adaptive path would chain old×old candidates nobody asked about.
    */
  private val SmallBatchDenom = 20L

  /** Gate a new `(doc_id, text)` batch against the PERSISTED index —
    * `dedupIncrementalDocs(newDocs, existing)` semantics where the
    * existing side never recomputes signatures or bands. doc_ids must
    * be disjoint from the indexed corpus's.
    *
    * Physical strategy is chosen from the batch/corpus size ratio (two
    * cheap narrow counts — the same statistics-driven switch
    * `Dedup.adaptivePairs` makes from bucket stats):
    *
    *  - SMALL batches (a crawl increment): broadcast-bipartite — the
    *    batch's bands broadcast against the bucketed index scan, only
    *    mixed pairs ever exist, neither index frame is exchanged.
    *  - LARGE batches (a re-gate of a corpus slice): union the loaded
    *    band index with the batch's bands and route through the shared
    *    `adaptivePairs` machinery (mixed-pair filter before exact
    *    verification, star-edges→CC→grid when buckets run hot) — raw
    *    bipartite bucket joins go quadratic in hot buckets exactly the
    *    way the self-dedup path would.
    *
    * Both strategies verify with the same exact merge-walk, so the
    * output is identical either way (spec-pinned on both sides of the
    * crossover).
    */
  def dedupIncrementalAgainstIndex(newDocs: DataFrame,
      basePath: String): DataFrame = {
    val spark = newDocs.sparkSession
    GraftFunctions.register(spark)
    val bGroups = groupsOf(newDocs).materializeOnce(eager = true)
    val pairs = incrementalVerifiedRepPairs(bGroups, basePath)
    // the gate's output is per-new-doc AGGREGATES, so document pairs
    // never materialize: each matched old group contributes its LIVE
    // member count and min live id (bucket-aligned aggregate over the
    // narrow member map — tombstoned docs drop here, and a group whose
    // members are all dead has no stats row, so the inner join also
    // drops candidates from dead groups)
    val matches = pairs.join(liveMemberStats(spark, basePath), "orep")
      .groupBy("brep")
      .agg(sum(col("n_old")).as("n_dups"), min(col("min_old")).as("first_dup"))
    bGroups.select(col("rep").as("brep"), explode(col("members")).as("doc_id"))
      .join(matches, Seq("brep"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("first_dup"),
        col("n_dups").isNotNull.cast("int").as("is_dup"))
    // no global ORDER BY — batch-sized output; the driver compare is order-insensitive
  }

  /** Per-group `(orep, n_old, min_old)` over LIVE members — one
    * exchange-free aggregate off the rep-bucketed member map.
    */
  private def liveMemberStats(spark: SparkSession,
      basePath: String): DataFrame =
    liveTable(spark, basePath, "members")
      .groupBy("rep")
      .agg(count(lit(1)).as("n_old"), min(col("doc_id")).as("min_old"))
      .withColumnRenamed("rep", "orep")

  /** The verified Jaccard ≥ 0.5 batch-group × index-group pair set
    * `(brep, orep)` behind [[dedupIncrementalAgainstIndex]] — every
    * quadratic stage (candidates, merge-walk verify) runs at DISTINCT
    * SET grain on both sides. Dead groups (all members tombstoned) are
    * not filtered here — rep ids are group keys, not documents — they
    * drop when the caller joins live member stats.
    */
  private def incrementalVerifiedRepPairs(bGroups: DataFrame,
      basePath: String): DataFrame = {
    val spark = bGroups.sparkSession
    val oldSets = physical(spark, basePath, "sets")
    val oldBanded = physical(spark, basePath, "banded")
    // narrow view of the caller's pinned batch groups
    val newSets = bGroups.select(col("rep").as("doc_id"), col("s"))

    val nNew = newSets.count()
    val nOld = oldSets.count()
    Decisions.record("dedup.indexedGate",
      if (nNew * SmallBatchDenom <= nOld) "bipartite" else "adaptive",
      nNew.toDouble, nOld.toDouble / SmallBatchDenom)
    if (nNew * SmallBatchDenom <= nOld) {
      // bipartite candidates: any (new, old) GROUP pair sharing any
      // band bucket, scored once — zero self-side work
      val cands = broadcast(banded(newSets).withColumnRenamed("doc_id", "brep"))
        .join(oldBanded.withColumnRenamed("doc_id", "orep"), "bucket")
        .select("brep", "orep")
        .distinct()
      cands
        .join(broadcast(newSets.select(col("doc_id").as("brep"), col("s").as("s_new"))),
          "brep")
        .join(oldSets.select(col("doc_id").as("orep"), col("s").as("s_old")),
          "orep")
        .filter(Dedup.sizeCompatible(col("s_new"), col("s_old")))
        .filter(call_function("sorted_intersect_ge05",
          col("s_new"), col("s_old")) >= 0)
        .select("brep", "orep")
    } else {
      val sets = newSets.withColumn("is_new", lit(true))
        .unionByName(oldSets.withColumn("is_new", lit(false)))
        .materializeOnce()
      val bandedAll = banded(newSets)
        .unionByName(oldBanded)
        .materializeOnce()
      Dedup.adaptivePairs(sets, bandedAll)
        .filter(col("is_new_a") =!= col("is_new_b"))
        .filter(Dedup.sizeCompatible(col("s_a"), col("s_b")))
        .filter(call_function("sorted_intersect_ge05",
          col("s_a"), col("s_b")) >= 0)
        .select(
          when(col("is_new_a"), col("doc_id_a")).otherwise(col("doc_id_b")).as("brep"),
          when(col("is_new_a"), col("doc_id_b")).otherwise(col("doc_id_a")).as("orep"))
    }
  }

  /** Document-grain `(new_id, old_id)` expansion of
    * [[incrementalVerifiedRepPairs]] over LIVE old members — what the
    * label append consumes. Output-sized: no verification happens at
    * document grain.
    */
  private def incrementalVerifiedDocPairs(bGroups: DataFrame,
      basePath: String): DataFrame = {
    val spark = bGroups.sparkSession
    incrementalVerifiedRepPairs(bGroups, basePath)
      .join(bGroups.select(col("rep").as("brep"),
        explode(col("members")).as("new_id")), "brep")
      .join(liveTable(spark, basePath, "members").select(col("rep").as("orep"),
        col("doc_id").as("old_id")), "orep")
      .select("new_id", "old_id")
  }

  /** Query-entry form (same split as `Dedup.dedupIncremental`: doc_id %
    * 5 == 0 plays the fresh crawl): index the existing corpus once at a
    * deterministic scratch location, then gate the new batch from the
    * persisted artifacts. Hash-checked against the SAME oracle SQL as
    * `dedup_incremental` — the loaded-index path must be value-identical
    * to the per-call path.
    */
  /** Append a new `(doc_id, text)` batch to a PERSISTED band index
    * without re-banding the corpus — the between-crawls maintenance
    * move (`VectorIndexStore.appendIvfPq`'s dedup twin): the batch's
    * signatures and band buckets append into the bucketed tables, so a
    * later `dedupIncrementalAgainstIndex` sees earlier batches as
    * indexed corpus. Banding is per-doc (no frozen model can drift),
    * so an appended index equals one rebuilt over the union.
    *
    * Append is IDEMPOTENT by doc_id: each table takes only ids it
    * doesn't already hold (narrow anti-join, pinned before the write),
    * so replays repair a partial failure instead of duplicating rows.
    */
  def appendToIndex(newDocs: DataFrame, basePath: String): Unit = {
    val spark = newDocs.sparkSession
    GraftFunctions.register(spark)
    // each table's rows derive from the FULL batch with an INDEPENDENT
    // guard — a replay after a crash between any two appends repairs
    // the missing halves even though the landed tables filter theirs
    // away (the per-table independence of SearchIndexStore.upsertDocs /
    // VectorIndexStore.appendIvfPq). Group reps are batch-min ids, so
    // a replay recomputes identical groups.
    val batchGroups = groupsOf(newDocs).materializeOnce(eager = true)
    val batchSets = batchGroups.select(col("rep").as("doc_id"), col("s"))
    val sets = batchSets
      .join(physical(spark, basePath, "sets").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true) // pin all three before the first write
    val bands = banded(batchSets)
      .join(physical(spark, basePath, "banded")
        .select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true)
    val mems = batchGroups
      .select(col("rep"), explode(col("members")).as("doc_id"))
      .join(physical(spark, basePath, "members").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true)
    Sinks.appendBucketed(sets, tableName(basePath, "sets"), "doc_id", Buckets)
    Sinks.appendBucketed(bands, tableName(basePath, "banded"), "bucket", Buckets)
    Sinks.appendBucketed(mems, tableName(basePath, "members"), "rep", Buckets)
  }

  /** Delete docs from a persisted dedup index by TOMBSTONE — the
    * between-crawls removal move (`VectorIndexStore.deleteIvfPq`'s
    * twin): writes only the merged doc_id set (O(deleted so far),
    * never O(index)), and every load anti-joins it away. Signature and
    * band rows are PER-DOC (no cross-doc state in the band index), so
    * delete-then-gate equals gating against an index rebuilt over the
    * survivors exactly (spec-pinned). For the LABEL index the same
    * tombstone hides members and the load derivation re-selects the
    * survivor as the min LIVE id per cluster; cluster MEMBERSHIP stays
    * frozen — removing a bridge doc does not split its cluster (that
    * reconciliation is the next fingerprint-triggered rebuild's job,
    * the `DecisionStore.appendDecisions` contract in reverse).
    *
    * Deletes are idempotent (id-set union) and unknown ids are no-ops.
    * A deleted id stays deleted even if re-appended (`appendToIndex`
    * keys on physical rows); compact first to resurrect.
    */
  def deleteFromIndex(delIds: DataFrame, basePath: String): Unit =
    IndexScratch.addTombstones(delIds.select("doc_id"), basePath)

  /** Fold tombstones into the BAND index's physical tables (one
    * bucketed rewrite each — linear in the index, a separate
    * maintenance pass like `VectorIndexStore.compactIvfPq`), then drop
    * the tombstone set; afterwards deleted ids are physically absent
    * and can re-append.
    */
  def compactIndex(spark: SparkSession, basePath: String): Unit =
    IndexScratch.foldInto(spark, IndexScratch.tombstonesPath(basePath)) { t =>
      // member rows drop by tombstone, and groups left with ZERO live
      // members lose their set/band rows too (so their docs can
      // re-append as fresh groups — rep ids are batch-min ids, which a
      // post-compact re-append may mint anew for the same set)
      val mems = IndexScratch.live(physical(spark, basePath, "members"),
        Some(t), "doc_id").materializeOnce(eager = true)
      val liveReps = mems.select(col("rep").as("doc_id")).distinct()
      Seq("sets", "banded").foreach { part =>
        rewrite(physical(spark, basePath, part)
          .join(liveReps, Seq("doc_id"), "left_semi"), basePath, part)
      }
      rewrite(mems, basePath, "members")
    }

  /** [[buildClusterLabels]] over an arbitrary `(doc_id, text)` frame —
    * the docs-shaped form the incremental entry builds its crawl-1
    * index from (the dir-shaped build covers the whole corpus).
    */
  def buildClusterLabelsDocs(docs: DataFrame, basePath: String): Unit = {
    val spark = docs.sparkSession
    GraftFunctions.register(spark)
    val sets = docs.select(col("doc_id"),
      Dedup.tokenSet.as("s"))
    val labels = Components.minLabels(
      Dedup.minhashVerifiedPairs(sets)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val spine = docs.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
    Sinks.writeBucketed(spine, tableName(basePath, "labels"), "cluster",
      Buckets, Some(s"$basePath/labels"))
  }

  /** The crawl-1 size for [[dedupClusterIncremental]]'s demonstration
    * split: ids below it play the indexed corpus, ids at or above it
    * the monotone-id crawl increment.
    */
  private val IncCut = 400L

  /** Query-entry form of the INCREMENTAL clustering path: cluster
    * labels built over the first crawl (doc_id < 400), the second
    * crawl (doc_id ≥ 400 — monotone ids, the append contract) assigned
    * by [[appendLabels]] through the persisted band index, and the
    * result served from the label store. Both steps run once per
    * corpus under the shared fingerprint protocol; later calls load.
    * Hash-checked against a DuckDB oracle that recomputes BOTH halves
    * independently — the old slice's full CC and the batch's
    * incremental min-propagation over the batch↔cluster pair graph —
    * so the incremental assignment semantics themselves sit under the
    * exact cross-engine gate, not just a ScalaTest recompute.
    */
  def dedupClusterIncremental(spark: SparkSession, dir: String): DataFrame = {
    clusterFromLabels(spark, ensureIncrementalLabels(spark, dir))
  }

  /** Build-if-missing-or-stale for [[dedupClusterIncremental]]'s label
    * store (crawl-1 labels + band index, crawl-2 via [[appendLabels]]).
    * Shared by the query entry and the bench pre-build so the one-time
    * build lands on the `index_build` metric line, not a query timing.
    * Returns the store's base path.
    */
  def ensureIncrementalLabels(spark: SparkSession, dir: String): String = {
    val base = scratchBase(dir, "lblinc")
    // layout-versioned: the band index under $base/band is the v2 shape
    val fp = "lblinc-v2:" + sourceFingerprint(spark, s"$dir/documents.parquet")
    ensureBuilt(base, fp) {
      val docs = Tables.documents(spark, dir)
      buildClusterLabelsDocs(docs.filter(col("doc_id") < IncCut), base)
      build(docs.filter(col("doc_id") < IncCut), s"$base/band")
      appendLabels(docs.filter(col("doc_id") >= IncCut), base, s"$base/band")
    }
    base
  }

  /** [[compactIndex]]'s twin for the LABEL index: rewrite labels minus
    * tombstoned members, drop the set. Survivor/size derivation happens
    * at load, so query results are unchanged by compaction.
    */
  def compactLabels(spark: SparkSession, basePath: String): Unit =
    IndexScratch.foldInto(spark, IndexScratch.tombstonesPath(basePath)) { t =>
      rewrite(IndexScratch.live(physical(spark, basePath, "labels"),
        Some(t), "doc_id"), basePath, "labels")
    }

  /** Incrementally assign a NEW document batch to clusters and append
    * the `(doc_id, cluster)` rows to a persisted LABEL index — the
    * between-crawls move that keeps `clusterFromLabels` (and every
    * decision-table consumer of the dedup gate) current WITHOUT
    * re-running the corpus-wide minhash→CC chain. `bandBase` is a band
    * index over the same corpus the labels were built from
    * (the candidate machinery — strategy switch, merge walk, live
    * view — is shared with the incremental gate).
    *
    * Assignment is incremental connected components over the bipartite
    * batch↔corpus pair graph plus the within-batch pair graph: each
    * batch component's label is the MIN over its member ids and the
    * cluster labels of every matched existing doc. Since an existing
    * cluster's label IS its min member id, this reproduces the
    * first-seen-min convention exactly UNDER MONOTONE CRAWL IDS (every
    * batch id above every indexed id — the crawl-sequence contract
    * `appendDecisions` documents; a smaller out-of-order id would
    * found a new label instead of joining the matched cluster and
    * steal survivorship at load). The deliberate divergence from a
    * full re-cluster is the bridge case — a batch doc matching TWO
    * existing clusters joins the smaller label but does NOT merge them
    * (deferred to the fingerprint-triggered rebuild, the same contract
    * as `DecisionStore.appendDecisions`).
    *
    * Idempotent by doc_id (insert-only guard on the physical labels
    * table). Scale shape: candidate generation is the incremental
    * gate's (batch bands broadcast against the bucketed index — the
    * corpus is never exchanged); the CC runs on the batch-sized pair
    * graph only.
    */
  def appendLabels(newDocs: DataFrame, labelBase: String,
      bandBase: String): Unit = {
    val spark = newDocs.sparkSession
    GraftFunctions.register(spark)
    // insert-only guard keys on PHYSICAL rows (the append contract)
    val batch = newDocs.select("doc_id", "text")
      .join(physical(spark, labelBase, "labels").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .materializeOnce(eager = true)
    val bGroups = groupsOf(batch).materializeOnce(eager = true)
    // batch ↔ existing-cluster edges: matched old ids resolve to their
    // cluster labels (labels table read LIVE so tombstoned members
    // cannot pull a batch doc into a dead cluster)
    val oldLabels = liveTable(spark, labelBase, "labels")
    val toClusters = incrementalVerifiedDocPairs(bGroups, bandBase)
      .join(oldLabels.withColumnRenamed("doc_id", "old_id"), "old_id")
      .select(col("new_id").as("src"), col("cluster").as("dst"))
    // within-batch edges (new×new near-dups)
    val nn = Dedup.minhashVerifiedPairs(
        bGroups.select(explode(col("members")).as("doc_id"), col("s")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = Components.minLabels(toClusters.unionByName(nn))
    val assigned = batch.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster"))
      .materializeOnce(eager = true) // pin before writing the table read above
    Sinks.appendBucketed(assigned, tableName(labelBase, "labels"),
      "cluster", Buckets)
  }

  /** Ensure the corpus band index exists and is fresh at the
    * deterministic scratch location (the `dedup_incremental` split:
    * `doc_id % 5 != 0` plays the indexed corpus); returns its base
    * path. Build-if-missing-or-stale — callers that only LOAD (the
    * query entries, the bench pre-build) all route through here.
    */
  def ensureMinhashIndex(spark: SparkSession, dir: String): String = {
    val base = scratchBase(dir, "minhash")
    // layout-versioned (playbook rule): v2 = canonical groups + members
    val fp = "mh-v2:" + sourceFingerprint(spark, s"$dir/documents.parquet")
    ensureBuilt(base, fp) {
      build(Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0), base)
    }
    base
  }

  def dedupIncrementalIndexed(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureMinhashIndex(spark, dir)
    dedupIncrementalAgainstIndex(
      Tables.documents(spark, dir).filter(col("doc_id") % 5 === 0), base)
  }

  /** MinHash-index health gauge — the dedup twin of the vector store's
    * `indexStats`: the distribution of LSH bucket sizes over the
    * PERSISTED band index, with the estimated pair count each size
    * class contributes (`n_buckets · s(s−1)/2` — EXACTLY the statistic
    * the adaptive candidate chooser thresholds on, so an operator
    * watching this gauge sees the direct→components flip coming before
    * it happens). Hot buckets (stopword-heavy shingles, template
    * pages) show up as a long tail here; the grid path exists for
    * them. One partial-agg pass over the narrow (doc_id, bucket) index
    * rows — never the corpus text — then a histogram-sized second agg.
    */
  def mhindexStats(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    physical(spark, ensureMinhashIndex(spark, dir), "banded")
      .groupBy("bucket").agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size")
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("bucket_size"),
        col("n_buckets"),
        (col("bucket_size") * col("n_buckets")).as("n_rows"),
        // integer DIV: s(s−1) is even, and long arithmetic avoids the
        // double-division precision cliff past 2^53
        expr("CAST(n_buckets * bucket_size * (bucket_size - 1) DIV 2 AS BIGINT)")
          .as("est_pairs"))
      .orderBy("bucket_size") // histogram-sized output: bounded sort
  }

  // --- persisted corpus cluster labels (the curation gate's index) --------

  /** Persisted near-dup CLUSTER LABELS for a whole corpus — the
    * between-runs artifact that lets `curation_report` (and any other
    * consumer of the cluster gate) skip the minhash→banding→CC chain
    * entirely when the corpus hasn't changed. The chain is the sf1 tail
    * of the composed report (~all of its 206 s), and its output —
    * `(doc_id, cluster)` labels — is corpus-sized but NARROW (two
    * longs), so it persists once per crawl and every later curation run
    * reads labels instead of re-banding 100 TB of text. Cluster sizes
    * and the survivor verdict derive from the labels with one tiny
    * aggregation at load, so what's persisted is the index (labels),
    * not a memoized query result.
    *
    * Same freshness protocol as the signature/band index: the
    * `_INDEX_OK` marker carries the source fingerprint, so in-place
    * corpus regeneration rebuilds automatically.
    */
  def buildClusterLabels(spark: SparkSession, dir: String, basePath: String): Unit = {
    val labels = Dedup.dedupCluster(spark, dir).select("doc_id", "cluster")
    // bucketed by CLUSTER: the derived computations (cluster sizes, the
    // size join, survivor selection) all key on the label, so they read
    // bucket-aligned and plan zero shuffles
    Sinks.writeBucketed(labels, tableName(basePath, "labels"), "cluster",
      Buckets, Some(s"$basePath/labels"))
  }

  /** `Dedup.dedupCluster` served from the persisted label index —
    * value-identical output (spec-pinned), ZERO text scans / banding /
    * CC in the query plan (also spec-pinned, the same load-not-retrain
    * contract the ANN `*_indexed` path carries).
    */
  /** Ensure the corpus cluster-label index exists and is fresh; returns
    * its base path (same protocol as [[ensureMinhashIndex]]).
    */
  def ensureClusterLabels(spark: SparkSession, dir: String): String = {
    val base = scratchBase(dir, "cluster")
    val fp = sourceFingerprint(spark, s"$dir/documents.parquet")
    ensureBuilt(base, fp) { buildClusterLabels(spark, dir, base) }
    base
  }

  def dedupClusterIndexed(spark: SparkSession, dir: String): DataFrame =
    clusterFromLabels(spark, ensureClusterLabels(spark, dir))

  /** The label-index LOAD + derivation, path-shaped: sizes count LIVE
    * members and the survivor is the min LIVE id per cluster
    * (tombstone-aware — see [[deleteFromIndex]]). With no tombstones
    * the label IS the min member id, so surv == cluster and the output
    * is bit-identical to the original doc_id == cluster derivation
    * (the oracle-gated path never has tombstones).
    */
  def clusterFromLabels(spark: SparkSession, basePath: String): DataFrame = {
    val labels = liveTable(spark, basePath, "labels")
    val sizes = labels.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("surv"))
    labels
      .join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("surv")).cast("int").as("keep"))
  }

  /** Near-dup CLUSTER-size histogram + duplicate mass — the "dedup
    * removed X%" gauge a corpus owner tracks across crawls, served from
    * the persisted label index (load-not-recompute: zero banding/CC in
    * the plan). Per cluster-size class: cluster count, doc count, and
    * the ppm of the corpus that class contributes as REMOVABLE
    * duplicates (`docs − clusters`, i.e. everything but one survivor
    * per cluster). Sizes aggregate bucket-aligned off the label index
    * (exchange-free first agg), the histogram is a second tiny agg, and
    * the corpus total rides a 1-row broadcast — the corpus text never
    * appears in the plan at all.
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val hist = liveTable(spark, ensureClusterLabels(spark, dir), "labels")
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val totals = hist.agg(sum(col("n_docs")).as("total_docs"))
    hist.crossJoin(broadcast(totals)) // 1-row totals: rewrites to BHJ
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("CAST(1000000 * (n_docs - n_clusters) DIV total_docs AS BIGINT)")
          .as("dup_ppm"))
      .orderBy("cluster_size") // histogram-sized output: bounded sort
  }

  /** `Dedup.dedupClusterBest` served from the persisted label index:
    * clusters come from the loaded `(doc_id, cluster)` labels (zero
    * banding / CC in the plan — same contract as `dedupClusterIndexed`),
    * and only the quality score recomputes, which is a LINEAR text scan
    * keyed by doc_id. The survivor selection is the shared
    * `Dedup.clusterBestFrom` argmax, so output is value-identical to the
    * per-call path (hash-checked against the SAME DuckDB oracle).
    */
  def dedupClusterBestIndexed(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusterBestFrom(
      dedupClusterIndexed(spark, dir).select("doc_id", "cluster", "cluster_size"),
      graft.text.TextOps.qualityScore(spark, dir).select(col("doc_id"), col("score")))
}
