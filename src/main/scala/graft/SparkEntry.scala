package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.Analytics
import graft.curate.{Curate, Pii}
import graft.ops.Profile
import graft.dedup.Dedup
import graft.index.Indexing
import graft.json.JsonOps
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.sync.Sync
import graft.text.{Relevance, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q5Join(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"        -> (Analytics.q1Agg _),
    "q3_topk"       -> (Analytics.q3TopK _),
    "q5_join"       -> (Analytics.q5Join _),
    "topk_per_group" -> (Analytics.topKPerGroup _),
    "asof_join"     -> (Analytics.asofJoin _),
    "sessionize"    -> (Analytics.sessionize _),
    "window_hourly" -> (Analytics.windowHourly _),
    "window_hourly_incremental" ->
      (graft.analytics.RollupStore.windowHourlyIncremental _),
    "window_sliding" -> (Analytics.windowSliding _),
    "window_sliding_incremental" ->
      (graft.analytics.RollupStore.windowSlidingIncremental _),
    "funnel_steps"   -> (Analytics.funnelSteps _),
    "cohort_retention" -> (Analytics.cohortRetention _),
    "cohort_retention_incremental" ->
      (graft.analytics.RollupStore.cohortRetentionIncremental _),
    "percentile_stats" -> (Analytics.percentileStats _),
    "min_cost_supplier" -> (Analytics.minCostSupplier _),
    "sync_diff"      -> (Sync.syncDiff _),
    "sync_diff_bucketed" -> (Sync.syncDiffBucketed _),
    "salted_enrich"  -> (Analytics.saltedEnrich _),
    "sync_upsert"    -> (Sync.syncUpsert _),
    "outbox_batch"   -> (Sync.outboxBatch _),
    "batch_claim"    -> (Sync.batchClaim _),
    "orphan_requeue" -> (Sync.orphanRequeue _),
    "sync_backfill"  -> ((s: SparkSession, d: String) => Sync.syncBackfill(s, d)),
    "snapshot_stats" -> (Sync.snapshotStats _),
    "retention_prune" -> ((s: SparkSession, d: String) => Sync.retentionPrune(s, d)),
    "scd2_history"   -> (Sync.scd2History _),
    "sync_status_rollup" -> (Sync.syncStatusRollup _),
    "queue_depth_stats"  -> (Sync.queueDepthStats _),
    "outbox_depth_stats" -> (Sync.outboxDepthStats _),
    "alert_rollup"       -> (Sync.alertRollup _),
    "json_props_extract" -> (JsonOps.jsonPropsExtract _),
    "inline_refs"        -> (JsonOps.inlineRefs _),
    "ref_resolve"        -> (JsonOps.refResolve _),
    "json_nested"        -> (JsonOps.jsonNested _),
    "explode_dedup"      -> (JsonOps.explodeDedup _),
    "doc_fingerprint"    -> (JsonOps.docFingerprint _),
    "search_doc"        -> (Indexing.searchDoc _),
    "inverted_index"    -> (Indexing.invertedIndex _),
    "inverted_index_indexed" ->
      (graft.index.SearchIndexStore.invertedIndexIndexed _),
    "bm25_rank_indexed" ->
      (graft.index.SearchIndexStore.bm25RankIndexed _),
    "token_freq_indexed" ->
      (graft.index.SearchIndexStore.tokenFreqIndexed _),
    "tfidf_topk_indexed" ->
      (graft.index.SearchIndexStore.tfidfTopkIndexed _),
    "search_index_sync" ->
      (graft.index.SearchIndexStore.searchIndexSync _),
    "facet_count"       -> (Indexing.facetCount _),
    "pagerank_ppm"      -> (graft.graph.Graph.pagerankPpm _),
    "dim_enrich"        -> (Indexing.dimEnrich _),
    "template_assemble" -> (Indexing.templateAssemble _),
    "link_table"        -> (Indexing.linkTable _),
    "text_stats" -> (TextOps.textStats _),
    "lang_id"    -> (TextOps.langId _),
    "token_freq" -> (TextOps.tokenFreq _),
    "distinct_sketch" -> ((s: SparkSession, d: String) => TextOps.distinctSketch(s, d)),
    "kmv_overlap" -> ((s: SparkSession, d: String) => TextOps.kmvOverlap(s, d)),
    "kmv_overlap_indexed" ->
      ((s: SparkSession, d: String) => TextOps.kmvOverlapIndexed(s, d)),
    "crawl_novelty" -> (graft.streaming.Streams.crawlNovelty _),
    // k=32 so the 500-doc test corpora exercise REAL truncation (every
    // lang stratum outnumbers the sample); production default is 256
    "quantile_sketch" -> ((s: SparkSession, d: String) => TextOps.quantileSketch(s, d, k = 32)),
    "heavy_hitters"  -> ((s: SparkSession, d: String) => TextOps.heavyHitters(s, d)),
    "quality_percentiles" -> (TextOps.qualityPercentiles _),
    "lang_confusion" -> (TextOps.langConfusion _),
    "token_bpe"      -> (TextOps.tokenBpe _),
    "quality_score"  -> (TextOps.qualityScore _),
    "doc_rolling_fp" -> (TextOps.docRollingFp _),
    "bpe_learn"      -> ((s: SparkSession, d: String) => TextOps.bpeLearn(s, d)),
    "bpe_apply"      -> ((s: SparkSession, d: String) => TextOps.bpeApply(s, d)),
    "fertility_stats" -> ((s: SparkSession, d: String) => TextOps.fertilityStats(s, d)),
    "tfidf_topk"  -> (Relevance.tfidfTopK _),
    "bm25_rank"   -> ((s: SparkSession, d: String) => Relevance.bm25Rank(s, d)),
    "cooccur_pmi" -> ((s: SparkSession, d: String) => Relevance.cooccurPmi(s, d)),
    "rarity_score" -> (Relevance.rarityScore _),
    "lm_score"     -> (Relevance.lmScore _),
    "dedup_exact"     -> (Dedup.dedupExact _),
    "dedup_minhash"   -> (Dedup.dedupMinhash _),
    "dedup_cluster"   -> (Dedup.dedupCluster _),
    "dedup_cluster_best" -> (Dedup.dedupClusterBest _),
    "dedup_cluster_best_indexed" ->
      (graft.dedup.MinhashIndexStore.dedupClusterBestIndexed _),
    "dedup_threshold_stats" -> (Dedup.dedupThresholdStats _),
    "dedup_incremental" -> (Dedup.dedupIncremental _),
    "dedup_incremental_indexed" ->
      (graft.dedup.MinhashIndexStore.dedupIncrementalIndexed _),
    "dedup_cluster_incremental" ->
      (graft.dedup.MinhashIndexStore.dedupClusterIncremental _),
    "mhindex_stats" ->
      (graft.dedup.MinhashIndexStore.mhindexStats _),
    "dedup_cluster_stats" ->
      (graft.dedup.MinhashIndexStore.dedupClusterStats _),
    "simhash_fp"      -> (Dedup.simhashFp _),
    "simhash_near"    -> (Dedup.simhashNear _),
    "ngram_jaccard"   -> (Dedup.ngramJaccard _),
    "dedup_embedding" -> (Dedup.dedupEmbedding _),
    "dedup_embedding_lsh" -> (Dedup.dedupEmbeddingLsh _),
    // approximate candidate generation (precision 1, recall floor-pinned
    // in DedupSpec against the exact grid); its oracle replays the same
    // quantized Lloyd training and candidate lists
    "dedup_embedding_ann" -> (Dedup.dedupEmbeddingAnn _),
    "dedup_embedding_ann_indexed" -> (Dedup.dedupEmbeddingAnnIndexed _),
    "decontaminate"     -> (Curate.decontaminate _),
    "contamination_report" -> (Curate.contaminationReport _),
    "semantic_decon"    -> ((s: SparkSession, d: String) => Curate.semanticDecon(s, d)),
    "decon_combined"    -> (Curate.deconCombined _),
    "sample_stratified" -> ((s: SparkSession, d: String) => Curate.sampleStratified(s, d)),
    "shard_pack"        -> (Curate.shardPack _),
    "shard_pack_bpe" -> ((s: SparkSession, d: String) => Curate.shardPackBpe(s, d)),
    "domain_mix"        -> (Curate.domainMix _),
    "domain_mix_temperature" -> (Curate.domainMixTemperature _),
    "epoch_plan" -> ((s: SparkSession, d: String) => Curate.epochPlan(s, d)),
    "epoch_plan_bpe" -> ((s: SparkSession, d: String) => Curate.epochPlanBpe(s, d)),
    "gate_funnel" -> (graft.curate.DecisionStore.gateFunnelIndexed _),
    "source_reputation" -> (graft.curate.DecisionStore.sourceReputationIndexed _),
    "repetition_stats"  -> (Curate.repetitionStats _),
    "importance_weights" -> (Curate.importanceWeights _),
    "importance_sample" -> (Curate.importanceSample _),
    "seq_pack"          -> (Curate.seqPack _),
    "curation_report"   -> (Pipeline.curationReport _),
    "curation_report_indexed" -> (graft.curate.DecisionStore.curationReportIndexed _),
    "pii_stats"         -> (Pii.piiStats _),
    "pii_redact"        -> (Pii.piiRedact _),
    "para_dedup"        -> ((s: SparkSession, d: String) => Dedup.paraDedup(s, d)),
    "span_dedup"        -> ((s: SparkSession, d: String) => Dedup.dupSpans(s, d)),
    "span_trim"         -> ((s: SparkSession, d: String) => Dedup.spanTrim(s, d)),
    "span_trim_apply"   -> ((s: SparkSession, d: String) => Dedup.spanTrimApply(s, d)),
    "span_trim_incremental" ->
      (graft.dedup.SpanIndexStore.spanTrimIncremental _),
    "profile_stats"     -> (Profile.profileStats _),
    "outlier_stats"     -> (Profile.outlierStats _),
    "length_histogram"  -> (TextOps.lengthHistogram _),
    "cosine_topk" -> (Similarity.cosineTopK _),
    "knn_classify" -> (Similarity.knnClassify _),
    "embed_centroid_stats" -> (Similarity.embedCentroidStats _),
    "ann_lsh"     -> (Similarity.annLsh _),
    "ann_ivf"     -> (Similarity.annIvf _),
    "ann_ivf_pq"  -> (Similarity.annIvfPq _),
    "ann_ivf_pq_indexed" ->
      (graft.sim.VectorIndexStore.annIvfPqIndexed _),
    "ann_exact_rerank" ->
      (graft.sim.VectorIndexStore.annExactRerank _),
    "vindex_stats" ->
      (graft.sim.VectorIndexStore.vindexStats _),
    "embed_qc"    -> ((s: SparkSession, d: String) => Similarity.embedQc(s, d)),
    "hard_negatives" ->
      ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "bitext_mine" ->
      ((s: SparkSession, d: String) => graft.sim.VectorIndexStore.bitextMine(s, d)),
    "hard_negatives_indexed" ->
      ((s: SparkSession, d: String) => graft.sim.VectorIndexStore.hardNegativesIndexed(s, d)),
    "triplet_mine" ->
      ((s: SparkSession, d: String) => Similarity.tripletMine(s, d)),
    "triplet_mine_indexed" ->
      ((s: SparkSession, d: String) => graft.sim.VectorIndexStore.tripletMineIndexed(s, d)),
    "ann_adc_rerank" ->
      ((s: SparkSession, d: String) => graft.sim.VectorIndexStore.annAdcRerank(s, d)),
    "probe_recall_stats" ->
      ((s: SparkSession, d: String) => graft.sim.VectorIndexStore.probeRecallStats(s, d)),
    "vindex_sync" ->
      (graft.sim.VectorIndexStore.vindexSync _),
    "model_drift_stats" ->
      (graft.text.Drift.modelDriftStats _),
    "embed_drift_stats" ->
      (graft.sim.VectorIndexStore.embedDriftStats _),
    "mm_binary_stats" -> (Multimodal.mmBinaryStats _),
    "mm_chunk"        -> (Multimodal.mmChunk _),
    "mm_chunk_dedup"  -> (Multimodal.mmChunkDedup _),
    "mm_chunk_cdc"    -> (Multimodal.mmChunkCdc _),
    "mm_chunk_cdc_dedup" -> (Multimodal.mmChunkCdcDedup _),
    "mm_chunk_cdc_incremental" ->
      (graft.multimodal.ChunkStore.mmChunkCdcIncremental _),
    "mm_frame_sample" -> (Multimodal.mmFrameSample _),
    "mm_meta"         -> (Multimodal.mmMeta _)
  )

  /** The BPE-learning oracle unrolls the Spark operator's rounds in SQL
    * (like pagerank_ppm's iterations): round i counts adjacent symbol
    * pairs weighted by word frequency, takes the deterministic arg-max
    * (count desc, then lexicographic), and applies the merge with the
    * same greedy left-to-right fold the operator uses. DuckDB list
    * slicing is INCLUSIVE, hence `list_slice(acc, 1, len(acc) - 1)`
    * for drop-last.
    */
  private def bpeLearnOracle(k: Int): String = {
    val union = (1 to k)
      .map(i => s"SELECT $i AS k, l, r, n FROM m$i").mkString("\nUNION ALL ")
    s"""WITH ${bpeRoundsCte(k)}
       |SELECT CAST(k AS BIGINT) AS merge_rank, l AS merge_left, r AS merge_right,
       |  CAST(n AS BIGINT) AS pair_count
       |FROM ($union) ORDER BY merge_rank""".stripMargin
  }

  /** The trainer-round CTE chain shared by `bpeLearnOracle` and
    * `bpeApplyOracle`: w$i is the word-frequency table after i merges
    * (the word itself rides along so the applier can join back to the
    * corpus), m$i the round's arg-max merge.
    *
    * Every round CTE is `AS MATERIALIZED`: DuckDB inlines CTEs by
    * default, and each round references w${"$"}{i-1} twice (pair count +
    * merge apply), so 10 inlined rounds re-evaluate the prefix chain
    * exponentially — 21 s for bpe_apply at sf0.01, and 639 s for
    * epoch_plan_bpe whose downstream CTEs fan the chain out ~6 more
    * ways (what blew the round-13 correctness gate past its deadline).
    * Materialized, each round runs once: 0.1-0.2 s, values identical.
    */
  private def bpeRoundsCte(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT p.l AS l, p.r AS r, SUM(cnt) AS n FROM w${i - 1},
         |    unnest(list_transform(range(1, len(syms)),
         |      i -> struct_pack(l := syms[CAST(i AS INT)], r := syms[CAST(i AS INT) + 1]))) AS t(p)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, list_reduce(
         |    list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> CAST([s] AS VARCHAR[]))),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m$i.l AND x[1] = m$i.r
         |                     THEN list_append(list_slice(acc, 1, len(acc) - 1), m$i.l || m$i.r)
         |                     ELSE list_append(acc, x[1]) END) AS syms, cnt
         |  FROM w${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""tok AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |wc AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM tok WHERE len(w) > 0 GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT w, list_transform(range(1, len(w) + 1),
       |         i -> substr(w, CAST(i AS INT), 1)) AS syms, cnt FROM wc),
       |$rounds""".stripMargin
  }

  /** Applies the k learned merges (the same unrolled rounds) and rolls
    * the final per-word symbol counts up to per-document token counts —
    * the SQL twin of `TextOps.bpeApply`.
    */
  private def bpeApplyOracle(k: Int): String =
    s"""WITH ${bpeRoundsCte(k)},
       |tl AS MATERIALIZED (SELECT w, len(syms) AS n_sym FROM w$k),
       |tokd AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |j AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_ws_tokens, SUM(n_sym) AS n_bpe
       |      FROM tokd JOIN tl USING (w) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(n_ws_tokens, 0) AS BIGINT) AS n_ws_tokens,
       |  CAST(COALESCE(n_bpe, 0) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN j USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The shared trim-interval CTE chain of `span_trim` /
    * `span_trim_apply` (toks → positional grams → owned duplicated
    * grams → non-owner matches → running-max interval union → merged
    * spans `sp(doc_id, grp, s, e)`) — one definition so the gram width
    * and the trimming rule cannot drift between the two oracles.
    */
  private def spanTrimCte(n: Int): String = {
    val gram = (1 to n).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pg AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $gram AS g
       |  FROM toks, UNNEST(generate_series(0, len(t) - $n)) AS u(i)),
       |dup AS (SELECT g, MIN(doc_id) AS d0 FROM pg
       |        GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
       |m AS MATERIALIZED (SELECT pg.doc_id, pg.pos FROM pg JOIN dup USING (g)
       |     WHERE pg.doc_id <> dup.d0),
       |x AS (SELECT doc_id, pos,
       |        MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |      FROM m),
       |y AS (SELECT doc_id, pos,
       |        SUM(CASE WHEN pmax IS NULL OR pos > pmax + $n THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |      FROM x),
       |sp AS (SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + ${n - 1} AS e FROM y GROUP BY 1, 2)""".stripMargin
  }

  /** Per-language fertility over the same unrolled trainer rounds —
    * the oracle retrains the model in SQL, so the frozen persisted
    * artifact the Spark entry reads is re-verified against an
    * independent recompute on every gate run.
    */
  private def fertilityOracle(k: Int): String =
    s"""WITH ${bpeRoundsCte(k)},
       |tl AS MATERIALIZED (SELECT w, len(syms) AS n_sym FROM w$k),
       |tokl AS MATERIALIZED (SELECT lang, unnest(string_split(text, ' ')) AS w
       |      FROM documents),
       |f AS (SELECT lang, COUNT(*) AS n_words, COUNT(DISTINCT w) AS n_types,
       |        SUM(n_sym) AS n_bpe
       |      FROM tokl JOIN tl USING (w) GROUP BY 1)
       |SELECT lang, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_types AS BIGINT) AS n_types,
       |  CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(n_bpe AS DOUBLE) / n_words, 6) AS fertility6
       |FROM f ORDER BY lang""".stripMargin

  /** The crawl-novelty oracle: re-derives the gauge's whole series from
    * the documents table — per deterministic crawl batch (`doc_id % n`),
    * the bottom-k shingle state, the prefix fold of its predecessors
    * (bottom-k of the union — `TextOps.sketchMerge`), and the
    * KMV overlap row (`sketchOverlapFrom`'s estimates, the kmv_overlap
    * SQL shapes). The Spark entry reads PERSISTED per-batch states with
    * the first two batches compacted (persisted series + merged `-1`
    * prefix), so a missed batch write, a corrupted compaction, or a
    * drifted estimate all flip the hash. The `k - 1` / `k` literals in
    * the estimate CTEs interpolate from the SAME `k` the entry passes —
    * the parameter coupling is structural, not copy-pasted.
    */
  private def noveltyOracle(n: Int, k: Int): String = {
    def est(alias: String) =
      s"""COALESCE(CAST(FLOOR(${k - 1} * CAST(4294967296 AS DOUBLE)
         |      / (CASE WHEN COUNT(*) = $k THEN MAX(h) END)) AS BIGINT), COUNT(*)) AS $alias""".stripMargin
    val states = (0 until n).map { b =>
      s"""bs$b AS MATERIALIZED (SELECT lang, h FROM (
         |    SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
         |    FROM (SELECT DISTINCT lang, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
         |      FROM occ WHERE bid = $b)) WHERE rk <= $k)""".stripMargin
    }
    val prefixes = (0 until n).map {
      case 0 => "pf0 AS (SELECT lang, h FROM bs0 WHERE FALSE)"
      case 1 => "pf1 AS (SELECT lang, h FROM bs0)"
      case b =>
        s"""pf$b AS MATERIALIZED (SELECT lang, h FROM (
           |    SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
           |    FROM (SELECT DISTINCT lang, h FROM
           |      (SELECT * FROM pf${b - 1} UNION ALL SELECT * FROM bs${b - 1})))
           |  WHERE rk <= $k)""".stripMargin
    }
    val outs = (0 until n).map { b =>
      s"""mg$b AS (SELECT lang, h FROM (
         |    SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
         |    FROM (SELECT DISTINCT lang, h FROM
         |      (SELECT * FROM pf$b UNION ALL SELECT * FROM bs$b))) WHERE rk <= $k),
         |eo$b AS (SELECT lang, ${est("est_old")} FROM pf$b GROUP BY lang),
         |en$b AS (SELECT lang, ${est("est_new")} FROM bs$b GROUP BY lang),
         |eu$b AS (SELECT lang, ${est("est_union")} FROM mg$b GROUP BY lang),
         |kb$b AS (SELECT mg$b.lang, COUNT(*) AS n_kept,
         |    SUM(CASE WHEN o.in_old = 1 AND nw.in_new = 1 THEN 1 ELSE 0 END) AS k_both
         |  FROM mg$b
         |  LEFT JOIN (SELECT lang, h, 1 AS in_old FROM pf$b) o
         |    ON mg$b.lang = o.lang AND mg$b.h = o.h
         |  LEFT JOIN (SELECT lang, h, 1 AS in_new FROM bs$b) nw
         |    ON mg$b.lang = nw.lang AND mg$b.h = nw.h
         |  GROUP BY 1),
         |out$b AS (SELECT eu$b.lang,
         |  CAST(COALESCE(est_old, 0) AS BIGINT) AS est_old,
         |  CAST(COALESCE(est_new, 0) AS BIGINT) AS est_new, est_union,
         |  CAST(k_both * est_union // n_kept AS BIGINT) AS est_inter,
         |  CASE WHEN COALESCE(est_new, 0) > 0
         |    THEN LEAST(CAST(1000000 AS BIGINT),
         |      CAST(GREATEST(0, 1000000 * (est_union - COALESCE(est_old, 0)))
         |        // est_new AS BIGINT))
         |    ELSE CAST(0 AS BIGINT) END AS novelty_ppm,
         |  CAST($b AS BIGINT) AS batch_id
         |FROM eu$b LEFT JOIN eo$b USING (lang) LEFT JOIN en$b USING (lang)
         |  JOIN kb$b ON kb$b.lang = eu$b.lang)""".stripMargin
    }
    val union = (0 until n).map(b => s"SELECT * FROM out$b").mkString("\nUNION ALL ")
    s"""WITH d AS (SELECT doc_id % $n AS bid, lang, string_split(text, ' ') AS l
       |    FROM documents),
       |occ AS (SELECT bid, lang, unnest(CASE WHEN len(l) >= 3
       |    THEN list_transform(range(1, len(l) - 1),
       |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
       |    ELSE []::VARCHAR[] END) AS g
       |  FROM d),
       |${states.mkString(",\n")},
       |${prefixes.mkString(",\n")},
       |${outs.mkString(",\n")}
       |SELECT * FROM ($union) ORDER BY batch_id, lang""".stripMargin
  }

  /** The CDC storage-dedup full-scan recompute, shared VERBATIM by
    * `mm_chunk_cdc_dedup` (the per-call entry) and
    * `mm_chunk_cdc_incremental` (the batch-built persisted store): the
    * CDC boundary replay (mm_chunk_cdc's CTE) feeding the
    * content-addressed rollup (mm_chunk_dedup's tail). One string so
    * neither rule can drift from its twin — and so "incremental equals
    * recompute" is checked against literally the same oracle.
    */
  private val CdcDedupOracle: String =
    """WITH d AS (SELECT doc_id, source, text, length(text) AS n FROM documents
      |  WHERE length(text) > 0),
      |c AS (SELECT doc_id, source, text, n,
      |  list_filter(range(16, n + 1), i ->
      |    list_reduce(list_transform(range(i - 15, i + 1),
      |      j -> CAST(unicode(substr(text, CAST(j AS INT), 1)) AS BIGINT)),
      |      (a, x) -> (a * 257 + x) % 1000000007) % 64 = 0) AS cuts
      |  FROM d),
      |seg AS (SELECT doc_id, source, text,
      |  list_prepend(CAST(0 AS BIGINT), cuts) AS starts,
      |  list_append(cuts, CAST(n AS BIGINT)) AS ends
      |  FROM c),
      |ex AS (SELECT doc_id, source, text,
      |  unnest(list_transform(range(1, len(starts) + 1),
      |    q -> struct_pack(s := starts[q], e := ends[q]))) AS seg
      |  FROM seg),
      |cc AS (SELECT source,
      |    CAST(seg.e - seg.s AS BIGINT) AS chunk_bytes,
      |    md5(substr(text, CAST(seg.s + 1 AS INT), CAST(seg.e - seg.s AS INT))) AS chunk_md5
      |  FROM ex WHERE seg.e > seg.s),
      |tot AS (SELECT source, COUNT(*) AS n_chunks,
      |          SUM(chunk_bytes) AS total_bytes
      |        FROM cc GROUP BY 1),
      |un AS (SELECT source, COUNT(*) AS n_unique_chunks,
      |         SUM(chunk_bytes) AS unique_bytes
      |       FROM (SELECT DISTINCT source, chunk_md5, chunk_bytes FROM cc)
      |       GROUP BY 1)
      |SELECT source, CAST(n_chunks AS BIGINT) AS n_chunks,
      |  CAST(n_unique_chunks AS BIGINT) AS n_unique_chunks,
      |  CAST(total_bytes AS BIGINT) AS total_bytes,
      |  CAST(unique_bytes AS BIGINT) AS unique_bytes,
      |  CAST((1000000 * unique_bytes) // total_bytes AS BIGINT) AS unique_ppm
      |FROM tot JOIN un USING (source) ORDER BY source""".stripMargin

  /** The rail-free crawl-overlap oracle: re-derives BOTH persisted
    * sketch states from the documents table (old corpus vs the
    * `doc_id % 5 == 0` crawl — the kmv_overlap split), replays the
    * bottom-k merge, and recomputes every estimate — so the entry's
    * two-scan plan is verified against an independent recompute of the
    * states it reads. `k`/`k-1` literals interpolate from the SAME `k`
    * the entry passes (the noveltyOracle coupling pattern).
    */
  private def kmvIndexedOracle(k: Int): String = {
    def est(alias: String) =
      s"""COALESCE(CAST(FLOOR(${k - 1} * CAST(4294967296 AS DOUBLE)
         |      / (CASE WHEN COUNT(*) = $k THEN MAX(h) END)) AS BIGINT), COUNT(*)) AS $alias""".stripMargin
    s"""WITH d AS (SELECT lang, doc_id % 5 = 0 AS is_new,
       |    string_split(text, ' ') AS l FROM documents),
       |occ AS (SELECT lang, is_new, unnest(CASE WHEN len(l) >= 3
       |    THEN list_transform(range(1, len(l) - 1),
       |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
       |    ELSE []::VARCHAR[] END) AS g
       |  FROM d),
       |hs AS (SELECT DISTINCT lang, is_new,
       |    ('0x' || substr(md5(g), 1, 8))::BIGINT AS h FROM occ),
       |so AS (SELECT lang, h FROM (SELECT lang, h,
       |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
       |    FROM hs WHERE NOT is_new) WHERE rk <= $k),
       |sn AS (SELECT lang, h FROM (SELECT lang, h,
       |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
       |    FROM hs WHERE is_new) WHERE rk <= $k),
       |mg AS (SELECT lang, h FROM (SELECT lang, h,
       |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
       |    FROM (SELECT DISTINCT lang, h FROM
       |      (SELECT * FROM so UNION ALL SELECT * FROM sn))) WHERE rk <= $k),
       |eo AS (SELECT lang, ${est("est_old")} FROM so GROUP BY lang),
       |en AS (SELECT lang, ${est("est_new")} FROM sn GROUP BY lang),
       |eu AS (SELECT lang, ${est("est_union")} FROM mg GROUP BY lang),
       |kb AS (SELECT mg.lang, COUNT(*) AS n_kept,
       |    SUM(CASE WHEN o.in_old = 1 AND n.in_new = 1 THEN 1 ELSE 0 END) AS k_both
       |  FROM mg
       |  LEFT JOIN (SELECT lang, h, 1 AS in_old FROM so) o
       |    ON mg.lang = o.lang AND mg.h = o.h
       |  LEFT JOIN (SELECT lang, h, 1 AS in_new FROM sn) n
       |    ON mg.lang = n.lang AND mg.h = n.h
       |  GROUP BY 1)
       |SELECT eu.lang,
       |  CAST(COALESCE(est_old, 0) AS BIGINT) AS est_old,
       |  CAST(COALESCE(est_new, 0) AS BIGINT) AS est_new, est_union,
       |  CAST(k_both * est_union // n_kept AS BIGINT) AS est_inter,
       |  CASE WHEN COALESCE(est_new, 0) > 0
       |    THEN LEAST(CAST(1000000 AS BIGINT),
       |      CAST(GREATEST(0, 1000000 * (est_union - COALESCE(est_old, 0)))
       |        // est_new AS BIGINT))
       |    ELSE CAST(0 AS BIGINT) END AS novelty_ppm
       |FROM eu LEFT JOIN eo USING (lang) LEFT JOIN en USING (lang)
       |  JOIN kb ON kb.lang = eu.lang
       |ORDER BY eu.lang""".stripMargin
  }

  /** The normed-embeddings CTE every vector oracle starts from. */
  private val EmbNormCte: String =
    """e AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
      |  FROM embeddings)""".stripMargin

  /** Unrolled SQL replay of `Similarity.ivfCentroids` — the quantized
    * two-round Lloyd trainer (the bpe_learn unrolled-training
    * precedent, now for the vector side): seeds are the k lowest
    * vec_ids; each round assigns every vector to its max-cosine
    * centroid (raw-double dot fold, ties to the HIGHEST cid — the
    * max(struct) contract) and recomputes centroids as the exact
    * integer micro-unit mean `floor(sum(floor(x·1e6))/cnt)/1e6` cast
    * to REAL. Because the Spark side accumulates through the exact
    * `vec_sum_long` aggregate, both engines produce bit-identical
    * centroid floats. Expects `e` (EmbNormCte); ends in
    * `cents(cid, cvec, cnorm)`.
    */
  private def ivfTrainCte(k: Int): String = {
    val rounds = (1 to 2).map { i =>
      s"""aa$i AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid DESC) AS rk
         |    FROM (SELECT e.vec_id, c.cid,
         |        list_reduce(list_transform(range(1, 65),
         |          k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
         |          (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
         |      FROM e, cc${i - 1} c)) WHERE rk = 1),
         |uu$i AS MATERIALIZED (
         |  SELECT a.cid, CAST(t.k AS INTEGER) AS pos,
         |    SUM(q.qe[CAST(t.k AS INTEGER)]) AS s, COUNT(*) AS cnt
         |  FROM aa$i a JOIN qv q USING (vec_id), range(1, 65) t(k)
         |  GROUP BY 1, 2),
         |cc$i AS MATERIALIZED (
         |  SELECT cid, cvec,
         |    sqrt(list_reduce(list_transform(cvec,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS cnorm
         |  FROM (SELECT cid,
         |      list(CAST(FLOOR(CAST(s AS DOUBLE) / cnt) / 1000000.0 AS REAL) ORDER BY pos) AS cvec
         |    FROM uu$i GROUP BY cid))""".stripMargin
    }.mkString(",\n")
    s"""qv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe
       |  FROM e),
       |seeds AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
       |  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k)),
       |cc0 AS MATERIALIZED (
       |  SELECT s.cid, e.embedding AS cvec, e.norm AS cnorm FROM seeds s JOIN e USING (vec_id)),
       |$rounds,
       |cents AS (SELECT cid, cvec, cnorm FROM cc2)""".stripMargin
  }

  /** Unrolled SQL replay of `Similarity.pqTrain` — the 8-subspace PQ
    * codebook trainer: unit-normalize, slice into 8-dim subvectors,
    * seed from the `PqCodes` lowest vec_ids, two
    * Lloyd rounds of argmin-by-L2 assignment (raw-double folds, ties to
    * the LOWEST code — the min(struct) contract) + exact micro-unit
    * integer cell means, then the final encoding pass. Expects `e`;
    * ends in `bk(sub, code, cv)` and `cd(vec_id, codes)`.
    */
  private def pqTrainCte(): String = {
    val subs = graft.sim.Similarity.PqSubs
    val dim = graft.sim.Similarity.PqSubDim
    val codes = graft.sim.Similarity.PqCodes
    def assignCte(name: String, book: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rk
         |    FROM (SELECT s.vec_id, s.sub, b.code,
         |        list_reduce(list_transform(range(1, ${dim + 1}),
         |          k -> CAST(b.cv[k] AS DOUBLE) * CAST(b.cv[k] AS DOUBLE)), (x, y) -> x + y)
         |        - 2.0 * list_reduce(list_transform(range(1, ${dim + 1}),
         |          k -> CAST(s.sv[k] AS DOUBLE) * CAST(b.cv[k] AS DOUBLE)), (x, y) -> x + y) AS d2
         |      FROM sb s JOIN $book b ON b.sub = s.sub)) WHERE rk = 1)""".stripMargin
    val rounds = (1 to 2).map { i =>
      s"""${assignCte(s"pa$i", s"bb${i - 1}")},
         |pu$i AS MATERIALIZED (
         |  SELECT a.sub, a.code, CAST(t.k AS INTEGER) AS pos,
         |    SUM(q.qsv[CAST(t.k AS INTEGER)]) AS s, COUNT(*) AS cnt
         |  FROM pa$i a JOIN qsb q ON q.vec_id = a.vec_id AND q.sub = a.sub,
         |    range(1, ${dim + 1}) t(k)
         |  GROUP BY 1, 2, 3),
         |bb$i AS MATERIALIZED (
         |  SELECT sub, code,
         |    list(CAST(FLOOR(CAST(s AS DOUBLE) / cnt) / 1000000.0 AS REAL) ORDER BY pos) AS cv
         |  FROM pu$i GROUP BY sub, code)""".stripMargin
    }.mkString(",\n")
    s"""un AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) / norm AS REAL)) AS unit
       |  FROM e),
       |sb AS MATERIALIZED (
       |  SELECT vec_id, CAST(t.k AS INTEGER) AS sub,
       |    list_slice(unit, CAST(t.k AS INTEGER) * $dim + 1, CAST(t.k AS INTEGER) * $dim + $dim) AS sv
       |  FROM un, range(0, $subs) t(k)),
       |qsb AS MATERIALIZED (
       |  SELECT vec_id, sub,
       |    list_transform(sv, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qsv
       |  FROM sb),
       |pseeds AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
       |  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $codes)),
       |bb0 AS MATERIALIZED (
       |  SELECT sb.sub, p.code, sb.sv AS cv FROM sb JOIN pseeds p USING (vec_id)),
       |$rounds,
       |${assignCte("pa3", "bb2")},
       |cd AS MATERIALIZED (
       |  SELECT vec_id, list(CAST(code AS INTEGER) ORDER BY sub) AS codes
       |  FROM pa3 GROUP BY vec_id),
       |bk AS (SELECT sub, code, cv FROM bb2)""".stripMargin
  }

  /** The exact-rerank tail shared by the ANN query oracles: score a
    * `(q_id, n_id)` candidate CTE with the rounded-cosine contract and
    * rank top-5 per query (the cosine_topk fold; the exactTop5 twin).
    */
  private def exactTop5Sql(candCte: String): String =
    s"""s AS (
       |  SELECT $candCte.q_id, $candCte.n_id,
       |    round(list_reduce(list_transform(range(1, 65),
       |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
       |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
       |  FROM $candCte
       |  JOIN e a ON a.vec_id = $candCte.q_id
       |  JOIN e b ON b.vec_id = $candCte.n_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk FROM s)
       |SELECT q_id, n_id, cos6, CAST(rk AS BIGINT) AS rk
       |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** The `(p, k1, s)` sparse hyperplane-weight literal for the LSH
    * oracle — `Vectors.planeWeight`'s fixed ±1 matrix with 1-based
    * dimension indices, one row per NONZERO weight (the Spark
    * expression folds only nonzero terms, in dimension order). A plane
    * with no nonzero weight (probability ~1e-8 per plane, but the
    * oracle must be total) keeps a zero row so its bit still computes.
    */
  private def lshWeightValues(bands: Int, rows: Int): String = {
    val triples = for {
      p <- 0 until bands * rows
      k <- 0 until 64
      w = graft.sim.Vectors.planeWeight(p, k)
      if w != 0.0
    } yield s"($p,${k + 1},${if (w > 0) "1.0" else "-1.0"})"
    val empties = (0 until bands * rows).filter(p =>
      (0 until 64).forall(k => graft.sim.Vectors.planeWeight(p, k) == 0.0))
    (triples ++ empties.map(p => s"($p,1,0.0)")).mkString(",")
  }

  /** Shared by `dedup_incremental` and `dedup_incremental_indexed`:
    * the persisted-index gate is value-identical to the per-call gate.
    */
  private val dedupIncrementalOracle: String =
    """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
      |neu AS (SELECT * FROM d WHERE doc_id % 5 = 0),
      |old AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
      |p AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id
      |      FROM neu n JOIN old o
      |        ON 2 * len(list_intersect(n.t, o.t)) >=
      |           len(n.t) + len(o.t) - len(list_intersect(n.t, o.t))),
      |a AS (SELECT new_id, COUNT(*) AS n_dups, MIN(old_id) AS first_dup
      |      FROM p GROUP BY 1)
      |SELECT neu.doc_id AS doc_id,
      |  CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups,
      |  a.first_dup,
      |  CAST(a.n_dups IS NOT NULL AS INT) AS is_dup
      |FROM neu LEFT JOIN a ON neu.doc_id = a.new_id
      |ORDER BY doc_id""".stripMargin

  /** The epoch_plan oracle with its whitespace-count `c` CTE swapped
    * for the bpe_apply chain's true tokenizer counts — the mixture and
    * budget arithmetic stays ONE oracle text, only the token
    * accounting differs (exactly the Spark-side composition).
    */
  private def epochPlanBpeOracle(base: Map[String, String]): String = {
    val plan = base("epoch_plan")
    val anchor = "t AS (SELECT SUM(cell_tokens) AS tot_tokens FROM c),"
    val idx = plan.indexOf(anchor)
    require(idx >= 0,
      "epoch_plan oracle anchor not found — update epochPlanBpeOracle")
    s"""WITH ${bpeRoundsCte(10)},
       |tl AS MATERIALIZED (SELECT w, len(syms) AS n_sym FROM w10),
       |tokd AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |j AS MATERIALIZED (SELECT doc_id, SUM(n_sym) AS n_bpe FROM tokd JOIN tl USING (w) GROUP BY 1),
       |c AS MATERIALIZED (SELECT lang, source, COUNT(*) AS n_docs,
       |        SUM(CAST(COALESCE(j.n_bpe, 0) AS BIGINT)) AS cell_tokens
       |      FROM documents d LEFT JOIN j USING (doc_id) GROUP BY 1, 2),
       |""".stripMargin + plan.substring(idx)
  }

  /** The quantile-sketch oracle reuses the quality_percentiles chain
    * (one source of truth for the score definition) and re-derives the
    * deterministic bottom-k sample with the same md5-prefix hash; both
    * the sample estimates and the exact rail ride the
    * `percentile == quantile_cont` round-6 contract.
    */
  private def quantileSketchOracle(base: Map[String, String], k: Int): String = {
    val qp = base("quality_percentiles")
    val anchor = "l AS (SELECT doc_id, lang FROM documents)"
    val idx = qp.indexOf(anchor)
    require(idx >= 0,
      "quality_percentiles oracle anchor not found — update quantileSketchOracle")
    qp.substring(0, idx + anchor.length) + s""",
       |sc AS (SELECT l.lang, qsc.doc_id,
       |         ('0x' || substr(md5(CAST(qsc.doc_id AS VARCHAR)), 1, 8))::BIGINT AS h,
       |         qsc.score
       |       FROM qsc JOIN l USING (doc_id)),
       |st AS (SELECT * FROM (
       |         SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
       |         FROM sc) WHERE rk <= $k),
       |est AS (SELECT lang, COUNT(*) AS n_sample,
       |          round(quantile_cont(score, 0.1), 6) AS p10_est,
       |          round(quantile_cont(score, 0.5), 6) AS p50_est,
       |          round(quantile_cont(score, 0.9), 6) AS p90_est
       |        FROM st GROUP BY lang),
       |ex AS (SELECT lang, COUNT(*) AS n_docs,
       |          round(quantile_cont(score, 0.1), 6) AS p10_exact,
       |          round(quantile_cont(score, 0.5), 6) AS p50_exact,
       |          round(quantile_cont(score, 0.9), 6) AS p90_exact
       |        FROM sc GROUP BY lang)
       |SELECT lang, n_docs, n_sample, p10_est, p50_est, p90_est,
       |  p10_exact, p50_exact, p90_exact
       |FROM ex JOIN est USING (lang) ORDER BY lang""".stripMargin
  }

  /** The shard_pack oracle with its whitespace-count `d` CTE swapped
    * for the bpe_apply chain's true token counts — the same CTE surgery
    * as [[epochPlanBpeOracle]], so the prefix-sum/shard arithmetic
    * stays ONE oracle text and only the token accounting differs.
    */
  private def shardPackBpeOracle(base: Map[String, String]): String = {
    val pack = base("shard_pack")
    val anchor = "c AS (SELECT doc_id, n_tokens,"
    val idx = pack.indexOf(anchor)
    require(idx >= 0,
      "shard_pack oracle anchor not found — update shardPackBpeOracle")
    s"""WITH ${bpeRoundsCte(10)},
       |tl AS (SELECT w, len(syms) AS n_sym FROM w10),
       |tokd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |jj AS (SELECT doc_id, SUM(n_sym) AS n_bpe FROM tokd JOIN tl USING (w) GROUP BY 1),
       |d AS (SELECT ds.doc_id, CAST(COALESCE(jj.n_bpe, 0) AS BIGINT) AS n_tokens
       |      FROM (SELECT doc_id FROM documents) ds LEFT JOIN jj USING (doc_id)),
       |""".stripMargin + pack.substring(idx)
  }

  /** The curation_report oracle with its final SELECT wrapped as a
    * `rep` CTE, ready for derived views (gate_funnel,
    * source_reputation) to aggregate over — the gate definitions live
    * in ONE oracle text.
    */
  private def reportChainWithRep(base: Map[String, String]): String = {
    val report = base("curation_report")
    val idx = report.lastIndexOf("\nSELECT doc_id, q_keep,")
    require(idx >= 0,
      "curation_report oracle anchor not found — update reportChainWithRep")
    report.substring(0, idx) + ",\nrep AS (" +
      report.substring(idx + 1).stripSuffix("\nORDER BY doc_id") + "),\n"
  }

  /** DuckDB inlines CTEs by default and re-evaluates a CTE once per
    * reference — direct or through a chain — so oracles whose CTEs fan
    * out (the unrolled BPE rounds, the minhash→CC report chain) blow up
    * combinatorially: at sf0.01, `epoch_plan_bpe` ran 639 s inlined vs
    * 0.2 s materialized, and the report/cluster family ~20-40 s each vs
    * ~5 s — the inlined total is what pushed the round-13 driver
    * correctness run past its deadline (CORRECTNESS_r13 came back
    * empty). Rewrite every top-level CTE header to `AS MATERIALIZED`
    * (DuckDB ≥0.9 syntax; results are bit-identical, verified per
    * query). The pattern requires a bare lowercase identifier directly
    * before ` AS (` at a line start or after WITH [RECURSIVE], so
    * recursive members with column lists (`reach(node, lbl) AS (`) and
    * named-window clauses (`... WINDOW w AS (`, always mid-line here)
    * are untouched.
    */
  private val cteHeader =
    "(?m)(^\\s*\\|?\\s*|\\bWITH\\s+(?:RECURSIVE\\s+)?)([a-z][a-z_0-9]*) AS \\(".r
  private def materializeCtes(sql: String): String =
    cteHeader.replaceAllIn(sql, m =>
      java.util.regex.Matcher.quoteReplacement(
        m.group(1) + m.group(2) + " AS MATERIALIZED ("))

  /** DuckDB oracle SQL, one per `queries` key (column names must match). */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    (base ++ Map(
      // the bucketed diff is a zero-Exchange physical re-plan of the SAME
      // query — identical oracle, identical hash
      "sync_diff_bucketed" -> base("sync_diff"),
      // the persisted-cluster-index report is a load-not-recompute swap of
      // the dedup gate — identical oracle, identical hash
      "curation_report_indexed" -> base("curation_report"),
      // survivor selection over LOADED cluster labels — identical oracle,
      // identical hash to the per-call minhash→CC→argmax chain
      "dedup_cluster_best_indexed" -> base("dedup_cluster_best"),
      // the persisted-postings rollup is a load-not-recompute swap of
      // the per-call tokenize path — identical oracle, identical hash
      "inverted_index_indexed" -> base("inverted_index"),
      // BM25 served from the postings store: every score factor (tf,
      // df, dl, N, total tokens) is integer-valued and the scoring
      // expression is shared, so the doubles are byte-identical to the
      // corpus-scan path — identical oracle, identical hash
      "bm25_rank_indexed" -> base("bm25_rank"),
      // token counts and tf-idf served from the same postings store —
      // the postings ARE the (doc, token, tf) frame, the scoring tails
      // are shared code, so both hash against the corpus-path oracles
      "token_freq_indexed" -> base("token_freq"),
      "tfidf_topk_indexed" -> base("tfidf_topk"),
      // one crawl-sync cycle (new + changed + deleted) must converge
      // the stale store to the true corpus — the synced index's rollup
      // hash-checks against the full-corpus inverted_index oracle
      "search_index_sync" -> base("inverted_index"),
      // the rollups merged from slice-ingested partial aggregates must
      // equal the full-history scans — identical oracles, identical
      // hashes; BOTH readers serve from the one pane-grain state table
      "window_hourly_incremental" -> base("window_hourly"),
      "window_sliding_incremental" -> base("window_sliding"),
      "cohort_retention_incremental" -> base("cohort_retention"),
      // epoch planning with tokenizer-exact (BPE) counts: the epoch_plan
      // oracle with its whitespace-count CTE swapped for the bpe_apply
      // chain's true token counts
      "epoch_plan_bpe" -> epochPlanBpeOracle(base),
      // shard packing with tokenizer-exact (BPE) counts: the shard_pack
      // oracle with its whitespace-count CTE swapped for the bpe_apply
      // chain's true token counts
      "shard_pack_bpe" -> shardPackBpeOracle(base),
      // deterministic bottom-k quantile sketch: sample re-derived from
      // the portable md5-prefix hash, estimates + exact rail on the
      // percentile==quantile_cont round-6 contract
      "quantile_sketch" -> quantileSketchOracle(base, 32),
      // the funnel and the per-source scorecard reuse the ENTIRE report
      // chain: the report's final SELECT becomes a `rep` CTE and each
      // derived view aggregates over it — one source of truth for the
      // six gate definitions
      "gate_funnel" -> (reportChainWithRep(base) +
          """f AS (SELECT COUNT(*) AS n0,
            |  SUM(CASE WHEN q_keep = 1 THEN 1 ELSE 0 END) AS n1,
            |  SUM(CASE WHEN q_keep = 1 AND rep_flagged = 0 THEN 1 ELSE 0 END) AS n2,
            |  SUM(CASE WHEN q_keep = 1 AND rep_flagged = 0 AND rare_flagged = 0
            |      THEN 1 ELSE 0 END) AS n3,
            |  SUM(CASE WHEN q_keep = 1 AND rep_flagged = 0 AND rare_flagged = 0
            |      AND lm_flagged = 0 THEN 1 ELSE 0 END) AS n4,
            |  SUM(CASE WHEN q_keep = 1 AND rep_flagged = 0 AND rare_flagged = 0
            |      AND lm_flagged = 0 AND dedup_keep = 1 THEN 1 ELSE 0 END) AS n5,
            |  SUM(CASE WHEN keep = 1 THEN 1 ELSE 0 END) AS n6
            | FROM rep)
            |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
            |  CAST(n_in AS BIGINT) AS n_in, CAST(n_dropped AS BIGINT) AS n_dropped,
            |  CAST(n_out AS BIGINT) AS n_out,
            |  CAST(survival_ppm AS BIGINT) AS survival_ppm FROM (
            |  SELECT 1 AS stage_idx, 'quality' AS stage,
            |    n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out,
            |    1000000 * n1 // n0 AS survival_ppm FROM f
            |  UNION ALL SELECT 2, 'repetition', n1, n1 - n2, n2, 1000000 * n2 // n0 FROM f
            |  UNION ALL SELECT 3, 'rarity', n2, n2 - n3, n3, 1000000 * n3 // n0 FROM f
            |  UNION ALL SELECT 4, 'lm', n3, n3 - n4, n4, 1000000 * n4 // n0 FROM f
            |  UNION ALL SELECT 5, 'dedup', n4, n4 - n5, n5, 1000000 * n5 // n0 FROM f
            |  UNION ALL SELECT 6, 'decontamination', n5, n5 - n6, n6, 1000000 * n6 // n0 FROM f
            |) ORDER BY stage_idx""".stripMargin
      ),
      // per-source scorecard over the same rep CTE; the score CTE
      // re-derives the quality points from the chain's own qm metrics
      "source_reputation" -> (reportChainWithRep(base) +
          """qsc AS (SELECT doc_id,
            |  100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 40 END)
            |      - (CASE WHEN stop_ppm BETWEEN 20000 AND 600000 THEN 0 ELSE 20 END)
            |      - (CASE WHEN ttr_ppm >= 200000 THEN 0 ELSE 20 END)
            |      - (CASE WHEN alpha_ppm >= 600000 THEN 0 ELSE 20 END) AS score
            | FROM qm),
            |srcd AS (SELECT doc_id, source FROM documents),
            |j AS (SELECT rep.*, srcd.source, qsc.score
            |      FROM rep JOIN srcd USING (doc_id) JOIN qsc USING (doc_id))
            |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates,
            |  CAST(1000000 * SUM(CASE WHEN keep = 1 THEN 1 ELSE 0 END) // COUNT(*)
            |    AS BIGINT) AS keep_ppm,
            |  CAST(1000000 * SUM(CASE WHEN dedup_keep = 0 THEN 1 ELSE 0 END) // COUNT(*)
            |    AS BIGINT) AS dup_ppm,
            |  CAST(1000000 * SUM(CASE WHEN contaminated = 1 THEN 1 ELSE 0 END) // COUNT(*)
            |    AS BIGINT) AS contam_ppm,
            |  CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score
            |FROM j GROUP BY source ORDER BY source""".stripMargin
      ),
      // the list-balance gauge is a deterministic aggregation over the
      // PERSISTED inverted-lists parquet (list membership itself is
      // training-order-dependent, so the oracle reads the artifact, not a
      // recomputation). `{{scratch:ivfpq}}` is substituted by Verify with
      // the per-corpus index location before the oracle JSON is dumped.
      // the dedup-index bucket-size histogram: same persisted-artifact
      // protocol as vindex_stats (banded content is hash-deterministic,
      // but reading the artifact keeps the two gauges symmetric)
      "mhindex_stats" ->
        """WITH per AS (
          |  SELECT bucket, COUNT(*) AS bucket_size
          |  FROM '{{scratch:minhash}}/banded/*.parquet' GROUP BY 1)
          |SELECT CAST(bucket_size AS BIGINT) AS bucket_size,
          |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
          |  CAST(bucket_size * COUNT(*) AS BIGINT) AS n_rows,
          |  CAST(COUNT(*) * bucket_size * (bucket_size - 1) // 2 AS BIGINT) AS est_pairs
          |FROM per GROUP BY bucket_size
          |ORDER BY bucket_size""".stripMargin,
      // SemDeDup from the persisted index: candidates are same-list
      // pairs in the artifact's lists parquet, scored with the
      // cosine_topk rounded-double fold — fully deterministic, so the
      // embedding-ANN dedup path sits under the hash gate
      "dedup_embedding_ann_indexed" ->
        """WITH e AS (
          |  SELECT vec_id, embedding,
          |    sqrt(list_reduce(list_transform(embedding,
          |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
          |  FROM embeddings),
          |l AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
          |cand AS (
          |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
          |  FROM l x JOIN l y ON x.cid = y.cid AND x.vec_id < y.vec_id),
          |s AS (
          |  SELECT cand.va AS vec_a, cand.vb AS vec_b,
          |    round(list_reduce(list_transform(range(1, 65),
          |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
          |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
          |  FROM cand JOIN e a ON a.vec_id = cand.va JOIN e b ON b.vec_id = cand.vb)
          |SELECT vec_a, vec_b, cos6 FROM s WHERE cos6 >= 0.35""".stripMargin,
      // the IVF probe path under the exact gate: probe planning and the
      // candidate union recompute from the SAME persisted artifacts the
      // Spark path reads; scoring is the cosine_topk rounded-double fold
      "ann_exact_rerank" ->
        """WITH e AS (
          |  SELECT vec_id, embedding,
          |    sqrt(list_reduce(list_transform(embedding,
          |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
          |  FROM embeddings),
          |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:ivfpq}}/centroids/*.parquet'),
          |l AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
          |p AS (
          |  SELECT q.vec_id AS q_id, c.cid,
          |    round(list_reduce(list_transform(range(1, 65),
          |      k -> CAST(q.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
          |      (x, y) -> x + y) / (q.norm * c.cnorm), 6) AS ccos6
          |  FROM e q, c WHERE q.vec_id < 20),
          |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos6 DESC, cid) AS crk FROM p),
          |cand AS (
          |  SELECT DISTINCT pr.q_id, l.vec_id AS n_id
          |  FROM pr JOIN l ON l.cid = pr.cid
          |  WHERE pr.crk <= 4 AND l.vec_id <> pr.q_id),
          |s AS (
          |  SELECT cand.q_id, cand.n_id,
          |    round(list_reduce(list_transform(range(1, 65),
          |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
          |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
          |  FROM cand JOIN e a ON a.vec_id = cand.q_id JOIN e b ON b.vec_id = cand.n_id),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk FROM s)
          |SELECT q_id, n_id, cos6, CAST(rk AS BIGINT) AS rk
          |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      // recall@k of the probe path vs the exact rail — the oracle
      // replays BOTH top-k chains (probe planning + list membership +
      // scoring from the persisted artifacts; exact scoring from the
      // embeddings table) and recomputes the intersection
      "probe_recall_stats" ->
        """WITH e AS (
          |  SELECT vec_id, embedding,
          |    sqrt(list_reduce(list_transform(embedding,
          |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
          |  FROM embeddings),
          |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:ivfpq}}/centroids/*.parquet'),
          |l AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
          |p AS (
          |  SELECT q.vec_id AS q_id, c.cid,
          |    round(list_reduce(list_transform(range(1, 65),
          |      k -> CAST(q.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
          |      (x, y) -> x + y) / (q.norm * c.cnorm), 6) AS ccos6
          |  FROM e q, c WHERE q.vec_id < 20),
          |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos6 DESC, cid) AS crk FROM p),
          |cand AS (
          |  SELECT DISTINCT pr.q_id, l.vec_id AS n_id
          |  FROM pr JOIN l ON l.cid = pr.cid
          |  WHERE pr.crk <= 4 AND l.vec_id <> pr.q_id),
          |nc AS (SELECT q_id, COUNT(*) AS n_cand FROM cand GROUP BY 1),
          |s AS (
          |  SELECT cand.q_id, cand.n_id,
          |    round(list_reduce(list_transform(range(1, 65),
          |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
          |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
          |  FROM cand JOIN e a ON a.vec_id = cand.q_id JOIN e b ON b.vec_id = cand.n_id),
          |pt AS (SELECT q_id, n_id FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk
          |  FROM s) WHERE rk <= 10),
          |ex AS (
          |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
          |    round(list_reduce(list_transform(range(1, 65),
          |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
          |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
          |  FROM e a JOIN e b ON b.vec_id <> a.vec_id
          |  WHERE a.vec_id < 20),
          |et AS (SELECT q_id, n_id FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk
          |  FROM ex) WHERE rk <= 10),
          |h AS (
          |  SELECT et.q_id, COUNT(*) AS n_exact,
          |    SUM(CASE WHEN pt.n_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
          |  FROM et LEFT JOIN pt ON pt.q_id = et.q_id AND pt.n_id = et.n_id
          |  GROUP BY 1)
          |SELECT h.q_id, CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand,
          |  CAST(n_exact AS BIGINT) AS n_exact, CAST(n_hit AS BIGINT) AS n_hit,
          |  CAST(1000000 * n_hit // n_exact AS BIGINT) AS recall_ppm
          |FROM h LEFT JOIN nc ON nc.q_id = h.q_id
          |ORDER BY h.q_id""".stripMargin,
      "vindex_stats" ->
        """WITH per AS (
          |  SELECT cid, COUNT(*) AS list_size
          |  FROM '{{scratch:ivfpq}}/lists/*.parquet' GROUP BY 1),
          |tot AS (
          |  SELECT SUM(list_size) AS tot, COUNT(*) AS n_lists,
          |         MAX(list_size) AS max_size
          |  FROM per)
          |SELECT cid,
          |  CAST(list_size AS BIGINT) AS list_size,
          |  CAST((1000000 * list_size) // tot AS BIGINT) AS share_ppm,
          |  CAST((1000000 * max_size * n_lists) // tot AS BIGINT) AS skew_ppm,
          |  CAST(n_lists AS BIGINT) AS n_lists
          |FROM per, tot
          |ORDER BY cid""".stripMargin,
      // the salted join is semantically the plain inner join — the oracle
      // knows nothing about salt
      "salted_enrich" ->
        """WITH dim AS (
          |  SELECT o_custkey AS user_id,
          |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS cust_spend
          |  FROM orders GROUP BY 1)
          |SELECT event_id, user_id, value, cust_spend
          |FROM events JOIN dim USING (user_id)
          |ORDER BY event_id""".stripMargin
    )).map { case (k, v) => k -> materializeCtes(v) }
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "bpe_learn" -> bpeLearnOracle(10),
    "bpe_apply" -> bpeApplyOracle(10),
    "fertility_stats" -> fertilityOracle(10),
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(20,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(20,4)) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 AND o_custkey < 100
        |ORDER BY o_custkey, rk""".stripMargin,
    "asof_join" ->
      """WITH p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |       epoch_us(p.ts) AS purchase_ts_us,
        |       c.event_id AS click_event_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts > c.ts
        |ORDER BY purchase_id""".stripMargin,
    "sessionize" ->
      """WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS tsu, user_id, value FROM events
        |), s AS (
        |  SELECT *, CASE WHEN tsu - LAG(tsu) OVER w > 1800000000
        |                   OR LAG(tsu) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), t AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS session_nr FROM s
        |)
        |SELECT user_id, CAST(session_nr AS BIGINT) AS session_nr,
        |  COUNT(*) AS n_events,
        |  MIN(tsu) AS session_start_us, MAX(tsu) AS session_end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM t GROUP BY user_id, session_nr
        |ORDER BY user_id, session_nr""".stripMargin,
    "window_hourly" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000000000 AS hour_ns, event_type,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "window_sliding" ->
      """WITH x AS (
        |  SELECT ((epoch_ns(ts) // 900000000000) - k) * 900000000000 AS win_ns,
        |    user_id, value
        |  FROM events, unnest(range(0, 4)) AS t(k))
        |SELECT win_ns, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "funnel_steps" ->
      // epoch_us on the oracle side matches the Spark entry's ts div
      // 1000 — both engines compare at the µs precision they share
      """WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(epoch_us(ts)) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE event_type = 'click' AND epoch_us(ts) > t_view GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(epoch_us(ts)) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE event_type = 'purchase' AND epoch_us(ts) > t_click GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n1 FROM v),
        |u AS (SELECT 1 AS step, 'view' AS step_name,
        |        (SELECT COUNT(*) FROM v) AS n_users
        |      UNION ALL SELECT 2, 'view>click', (SELECT COUNT(*) FROM c)
        |      UNION ALL SELECT 3, 'view>click>purchase', (SELECT COUNT(*) FROM p))
        |SELECT CAST(step AS BIGINT) AS step, step_name,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  CAST((1000000 * n_users) // greatest(n1, 1) AS BIGINT) AS conv_ppm
        |FROM u, n ORDER BY step""".stripMargin,
    "cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS week FROM events),
        |f AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, cohort_week, week - cohort_week AS week_offset
        |      FROM e JOIN f USING (user_id))
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        |  CAST(week_offset AS BIGINT) AS week_offset, COUNT(*) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "percentile_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "min_cost_supplier" ->
      """WITH r AS (SELECT l_partkey, l_suppkey,
        |             CAST(l_extendedprice AS DECIMAL(12,2)) AS cost FROM lineitem),
        |m AS (SELECT l_partkey, MIN(cost) AS mc, COUNT(*) AS n_offers
        |      FROM r GROUP BY 1),
        |s AS (SELECT r.l_partkey AS pk, MIN(r.l_suppkey) AS suppkey
        |      FROM r JOIN m ON r.l_partkey = m.l_partkey AND r.cost = m.mc
        |      GROUP BY 1)
        |SELECT m.l_partkey AS partkey, s.suppkey,
        |  CAST(m.mc AS DOUBLE) AS min_cost, n_offers
        |FROM m JOIN s ON m.l_partkey = s.pk ORDER BY partkey""".stripMargin,
    "embed_qc" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  round(sqrt(list_reduce(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)), 6) AS norm6,
        |  CAST(len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0 AS INT) AS flag_nonfinite,
        |  CAST(len(list_filter(embedding, x -> x <> 0)) = 0 AS INT) AS flag_zero,
        |  CAST(len(embedding) <> 64 AS INT) AS flag_dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "sync_diff" ->
      """WITH remote AS (
        |  SELECT o_orderkey AS key, o_totalprice AS rev_remote
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |loc AS (
        |  SELECT o_orderkey AS lkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS rev_local
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT COALESCE(key, lkey) AS key,
        |  CASE WHEN lkey IS NULL THEN 'new'
        |       WHEN key IS NULL THEN 'deleted'
        |       WHEN rev_remote <> rev_local THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM remote FULL OUTER JOIN loc ON key = lkey
        |ORDER BY key""".stripMargin,
    "sync_upsert" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0, 1 AS src
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT o_orderkey AS key, o_orderstatus AS status,
        |       o_totalprice AS rev, CAST(src AS BIGINT) AS src
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn FROM u)
        |WHERE rn = 1 ORDER BY key""".stripMargin,
    "outbox_batch" ->
      """SELECT event_type, CAST((rn - 1) // 100 AS BIGINT) AS batch_id,
        |  COUNT(*) AS n_events, MIN(event_id) AS min_event_id,
        |  MAX(event_id) AS max_event_id
        |FROM (SELECT event_type, event_id,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "batch_claim" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderstatus = 'P' AND NOT EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "orphan_requeue" ->
      """WITH hb AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN ts END) AS last_click
        |  FROM events GROUP BY user_id),
        |dead AS (
        |  SELECT user_id FROM hb
        |  WHERE last_click IS NULL OR last_click < TIMESTAMP '2024-01-25 00:00:00')
        |SELECT event_id, e.user_id AS user_id
        |FROM events e JOIN dead d ON e.user_id = d.user_id
        |WHERE e.event_type = 'view'
        |ORDER BY event_id""".stripMargin,
    "sync_backfill" ->
      """WITH c AS (SELECT o_orderkey, o_orderdate FROM orders
        |           WHERE o_orderstatus = 'O'
        |           ORDER BY o_orderdate, o_orderkey LIMIT 5000),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
        |      FROM c)
        |SELECT CAST((rn - 1) // 1000 AS BIGINT) AS chunk_id,
        |  COUNT(*) AS n_items, MIN(o_orderkey) AS min_key,
        |  MAX(o_orderkey) AS max_key,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS oldest_date
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "snapshot_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS first_doc
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "retention_prune" ->
      """WITH o AS (
        |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS snap_id FROM orders),
        |ids AS (
        |  SELECT snap_id, ROW_NUMBER() OVER (ORDER BY snap_id DESC) AS rk
        |  FROM (SELECT DISTINCT snap_id FROM o)),
        |doomed AS (SELECT snap_id FROM ids WHERE rk > 3)
        |SELECT o.snap_id AS snap_id, COUNT(*) AS n_objects,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM o JOIN doomed ON o.snap_id = doomed.snap_id
        |GROUP BY o.snap_id ORDER BY o.snap_id""".stripMargin,
    "sync_status_rollup" ->
      """SELECT o_orderpriority AS dictionary,
        |  CASE WHEN o_orderstatus = 'O' THEN 'pending_fetch'
        |       WHEN o_orderstatus = 'P' THEN 'pending_index'
        |       ELSE 'idle' END AS sync_status,
        |  COUNT(*) AS n_articles,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS oldest_changed
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "queue_depth_stats" ->
      """WITH s AS (
        |  SELECT event_type AS namespace,
        |    CASE CAST(event_id % 6 AS INT)
        |      WHEN 0 THEN 'pending' WHEN 1 THEN 'running' WHEN 2 THEN 'failed'
        |      WHEN 3 THEN 'dead' WHEN 4 THEN 'scheduled' ELSE 'done' END AS state
        |  FROM events)
        |SELECT namespace,
        |  CAST(SUM(CASE WHEN state = 'pending' THEN 1 ELSE 0 END) AS BIGINT) AS pending,
        |  CAST(SUM(CASE WHEN state = 'running' THEN 1 ELSE 0 END) AS BIGINT) AS running,
        |  CAST(SUM(CASE WHEN state = 'failed' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
        |  CAST(SUM(CASE WHEN state = 'dead' THEN 1 ELSE 0 END) AS BIGINT) AS dead,
        |  CAST(SUM(CASE WHEN state = 'scheduled' THEN 1 ELSE 0 END) AS BIGINT) AS scheduled,
        |  CAST(SUM(CASE WHEN state = 'done' THEN 1 ELSE 0 END) AS BIGINT) AS done,
        |  CAST(SUM(CASE WHEN state IN ('pending', 'running', 'scheduled') THEN 1 ELSE 0 END) AS BIGINT) AS backlog
        |FROM s GROUP BY namespace ORDER BY namespace""".stripMargin,
    "outbox_depth_stats" ->
      """WITH ev AS (
        |  SELECT event_type AS job_type,
        |    CASE WHEN event_id % 3 <> 0 THEN epoch_ns(ts) END AS processed_at
        |  FROM events),
        |n AS (SELECT MAX(processed_at) AS now_ns FROM ev)
        |SELECT job_type,
        |  CAST(SUM(CASE WHEN processed_at IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pending,
        |  CAST(SUM(CASE WHEN processed_at > now_ns - 3600000000000 THEN 1 ELSE 0 END) AS BIGINT) AS processed_last_hour,
        |  CAST(SUM(CASE WHEN processed_at > now_ns - 86400000000000 THEN 1 ELSE 0 END) AS BIGINT) AS processed_last_day
        |FROM ev, n GROUP BY ROLLUP(job_type)
        |ORDER BY job_type NULLS FIRST""".stripMargin,
    "alert_rollup" ->
      """WITH s AS (
        |  SELECT event_type AS namespace,
        |    CASE CAST(event_id % 6 AS INT)
        |      WHEN 0 THEN 'pending' WHEN 1 THEN 'running' WHEN 2 THEN 'failed'
        |      WHEN 3 THEN 'dead' WHEN 4 THEN 'scheduled' ELSE 'done' END AS state
        |  FROM events),
        |q AS (
        |  SELECT namespace,
        |    CAST(SUM(CASE WHEN state IN ('pending', 'running', 'scheduled') THEN 1 ELSE 0 END) AS BIGINT) AS backlog,
        |    CAST(SUM(CASE WHEN state = 'dead' THEN 1 ELSE 0 END) AS BIGINT) AS dead
        |  FROM s GROUP BY namespace),
        |qa AS (SELECT *, AVG(backlog) OVER () AS thr FROM q),
        |ev AS (
        |  SELECT event_type AS job_type,
        |    CASE WHEN event_id % 3 <> 0 THEN 1 END AS processed
        |  FROM events),
        |o AS (
        |  SELECT job_type,
        |    CAST(SUM(CASE WHEN processed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pending
        |  FROM ev GROUP BY job_type),
        |oa AS (SELECT *, AVG(pending) OVER () AS thr FROM o)
        |SELECT source, scope, condition, observed, threshold FROM (
        |  SELECT 'queue' AS source, namespace AS scope, 'backlog_high' AS condition,
        |    backlog AS observed, CAST(thr AS DOUBLE) AS threshold
        |  FROM qa WHERE backlog > thr
        |  UNION ALL
        |  SELECT 'queue', namespace, 'dead_jobs', dead, CAST(0.0 AS DOUBLE)
        |  FROM q WHERE dead > 0
        |  UNION ALL
        |  SELECT 'outbox', job_type, 'pending_high', pending, CAST(thr AS DOUBLE)
        |  FROM oa WHERE pending > thr)
        |ORDER BY source, scope, condition""".stripMargin,
    "facet_count" ->
      """WITH j AS (
        |  SELECT o_orderpriority, c_mktsegment, n_name
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderstatus = 'F')
        |SELECT 'priority' AS facet, o_orderpriority AS value, COUNT(*) AS n_docs
        |FROM j GROUP BY 2
        |UNION ALL
        |SELECT 'segment' AS facet, c_mktsegment AS value, COUNT(*) AS n_docs
        |FROM j GROUP BY 2
        |UNION ALL
        |SELECT 'nation' AS facet, n_name AS value, COUNT(*) AS n_docs
        |FROM j GROUP BY 2
        |ORDER BY facet, value""".stripMargin,
    "json_props_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k,
        |  MAX(k) AS max_k, COUNT(DISTINCT k) AS n_distinct_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "inline_refs" ->
      """WITH m AS (
        |  SELECT unnest(regexp_extract_all(text, '\b(scan|join|sort) (\w+)')) AS ref
        |  FROM documents)
        |SELECT split_part(ref, ' ', 1) AS code, split_part(ref, ' ', 2) AS spec,
        |  COUNT(*) AS n_refs
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ref_resolve" ->
      """WITH m AS (
        |  SELECT unnest(regexp_extract_all(text, '\b(scan|join|sort) (\w+)')) AS ref
        |  FROM documents),
        |refs AS (
        |  SELECT split_part(ref, ' ', 1) AS code, split_part(ref, ' ', 2) AS spec,
        |    COUNT(*) AS n_refs
        |  FROM m GROUP BY 1, 2),
        |bib AS (
        |  SELECT split_part(p_name, ' ', 1) AS word, MIN(p_partkey) AS resolved_id
        |  FROM part GROUP BY 1)
        |SELECT code, spec, n_refs, resolved_id,
        |  CAST(resolved_id IS NOT NULL AS INT) AS resolved
        |FROM refs LEFT JOIN bib ON spec = word
        |ORDER BY code, spec""".stripMargin,
    "json_nested" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |firsts AS (
        |  SELECT user_id, k, MIN(event_id) AS fe FROM e GROUP BY 1, 2),
        |ks AS (
        |  SELECT user_id, string_agg(CAST(k AS VARCHAR), ',' ORDER BY fe) AS k_ids,
        |    COUNT(*) AS n_distinct_k
        |  FROM firsts GROUP BY 1),
        |agg AS (
        |  SELECT user_id, COUNT(*) AS n_events, SUM(k) AS sum_k FROM e GROUP BY 1)
        |SELECT agg.user_id AS user_id, n_events, CAST(sum_k AS BIGINT) AS sum_k,
        |  CAST(n_distinct_k AS BIGINT) AS n_distinct_k, k_ids
        |FROM agg JOIN ks ON agg.user_id = ks.user_id
        |ORDER BY user_id""".stripMargin,
    "template_assemble" ->
      """WITH c AS (
        |  SELECT split_part(p_name, ' ', 1) AS word, MIN(p_partkey) AS concept_id
        |  FROM part GROUP BY 1),
        |t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents)
        |SELECT doc_id,
        |  string_agg(CASE WHEN concept_id IS NOT NULL
        |               THEN '[' || tok || ':' || concept_id || ']'
        |               ELSE tok END, ' ' ORDER BY pos) AS assembled,
        |  COUNT(concept_id) AS n_resolved
        |FROM t LEFT JOIN c ON tok = word
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "link_table" ->
      """SELECT l_orderkey AS article_id, l_partkey AS bib_id,
        |  COUNT(*) AS n_refs, CAST(MIN(l_linenumber) AS BIGINT) AS first_line
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "explode_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |tok AS (SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l) + 1)) AS pos FROM d),
        |firsts AS (SELECT doc_id, tok, MIN(pos) AS fp FROM tok GROUP BY doc_id, tok),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY fp) AS dedup_text,
        |               COUNT(*) AS n_distinct
        |        FROM firsts GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id, agg.dedup_text,
        |  CAST(len(d.l) AS BIGINT) AS n_tokens,
        |  CAST(agg.n_distinct AS BIGINT) AS n_distinct
        |FROM d JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, md5(trim(text)) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "search_doc" ->
      """WITH agg AS (
        |  SELECT l_orderkey,
        |    array_to_string(list(l_partkey ORDER BY l_partkey), ',') AS part_keys,
        |    array_to_string(list_sort(list_distinct(list(l_returnflag))), '') AS flags,
        |    COUNT(*) AS n_lines,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE) AS revenue
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey AS key, c_name, n_name, part_keys, flags, n_lines, revenue
        |FROM agg
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY key""".stripMargin,
    "dim_enrich" ->
      """SELECT s_suppkey, s_name, n_name, r_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey""".stripMargin,
    "text_stats" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS l,
        |    len(list_filter(string_split(text, ' '),
        |        t -> list_contains(['the','a','of','and','to','in'], t))) AS ns
        |  FROM documents)
        |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
        |  CAST(ns AS BIGINT) AS n_stop,
        |  (1000000 * ns) // len(l) AS stop_ppm,
        |  (1000000 * len(list_distinct(l))) // len(l) AS ttr_ppm,
        |  (1000000 * (n_chars - (len(l) - 1))) // len(l) AS avg_tok_len_ppm
        |FROM d ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['der','die','und'], t))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of'], t))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['el','los','una'], t))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['le','les','une'], t))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['ma','de','shi'], t))) AS BIGINT) AS s_zh
        |  FROM documents),
        |m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s)
        |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
        |       WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
        |       WHEN s_zh = best THEN 'zh' ELSE 'und' END AS pred_lang,
        |  CAST(CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
        |       WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
        |       WHEN s_zh = best THEN 'zh' ELSE 'und' END = lang AS INT) AS is_match
        |FROM m ORDER BY doc_id""".stripMargin,
    // the lang_id chain aggregated to the (declared, detected) matrix
    "lang_confusion" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['der','die','und'], t))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of'], t))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['el','los','una'], t))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['le','les','une'], t))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(string_split(text,' '), t -> list_contains(['ma','de','shi'], t))) AS BIGINT) AS s_zh
        |  FROM documents),
        |m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s),
        |p AS (SELECT lang,
        |    CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
        |         WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
        |         WHEN s_zh = best THEN 'zh' ELSE 'und' END AS pred_lang
        |  FROM m),
        |c AS (SELECT lang, pred_lang, COUNT(*) AS n_docs FROM p GROUP BY 1, 2),
        |t AS (SELECT lang, SUM(n_docs) AS lang_total FROM c GROUP BY 1)
        |SELECT c.lang, c.pred_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
        |  CAST(1000000 * c.n_docs // t.lang_total AS BIGINT) AS share_ppm
        |FROM c JOIN t USING (lang) ORDER BY c.lang, c.pred_lang""".stripMargin,
    // rides the percentile == quantile_cont contract percentile_stats
    // pinned; the score CTEs are the quality gate's own formulation
    "quality_percentiles" ->
      """WITH qs AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |    len(list_filter(string_split(text, ' '),
        |        t -> list_contains(['the','a','of','and','to','in'], t))) AS n_stop,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t <> '' AND translate(t,
        |          'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', '') = '')) AS n_alpha
        |  FROM documents),
        |qm AS (
        |  SELECT doc_id, n_tokens,
        |    (1000000 * n_stop) // n_tokens AS stop_ppm,
        |    (1000000 * n_distinct) // n_tokens AS ttr_ppm,
        |    (1000000 * n_alpha) // n_tokens AS alpha_ppm
        |  FROM qs),
        |qsc AS (
        |  SELECT doc_id,
        |    100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 40 END)
        |        - (CASE WHEN stop_ppm BETWEEN 20000 AND 600000 THEN 0 ELSE 20 END)
        |        - (CASE WHEN ttr_ppm >= 200000 THEN 0 ELSE 20 END)
        |        - (CASE WHEN alpha_ppm >= 600000 THEN 0 ELSE 20 END) AS score
        |  FROM qm),
        |l AS (SELECT doc_id, lang FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  round(quantile_cont(score, 0.1), 6) AS p10,
        |  round(quantile_cont(score, 0.5), 6) AS p50,
        |  round(quantile_cont(score, 0.9), 6) AS p90
        |FROM qsc JOIN l USING (doc_id) GROUP BY lang ORDER BY lang""".stripMargin,
    // KMV is deterministic over the portable md5-prefix hash, so the
    // ESTIMATE itself hash-matches — the single-level ROW_NUMBER here
    // recomputes what the Spark side selects with its two-level top-k
    "distinct_sketch" ->
      """WITH d AS (SELECT lang, string_split(text, ' ') AS l FROM documents),
        |tk AS (SELECT DISTINCT lang,
        |    ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
        |  FROM (SELECT lang, unnest(CASE WHEN len(l) >= 3
        |          THEN list_transform(range(1, len(l) - 1),
        |            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
        |          ELSE []::VARCHAR[] END) AS g
        |        FROM d) x),
        |r AS (SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
        |      FROM tk),
        |b AS (SELECT lang, h, rk FROM r WHERE rk <= 256),
        |kq AS (SELECT lang, COUNT(*) AS n_kept,
        |         MAX(CASE WHEN rk = 256 THEN h END) AS kth_hash
        |       FROM b GROUP BY 1),
        |ex AS (SELECT lang, COUNT(*) AS n_exact FROM tk GROUP BY 1),
        |est AS (SELECT ex.lang, ex.n_exact, kq.kth_hash,
        |          COALESCE(CAST(FLOOR(255 * CAST(4294967296 AS DOUBLE) / kq.kth_hash)
        |            AS BIGINT), kq.n_kept) AS est_distinct
        |        FROM ex JOIN kq USING (lang))
        |SELECT lang, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(kth_hash AS BIGINT) AS kth_hash,
        |  CAST(est_distinct AS BIGINT) AS est_distinct,
        |  CAST(1000000 * ABS(est_distinct - n_exact) // n_exact AS BIGINT) AS err_ppm
        |FROM est ORDER BY lang""".stripMargin,
    // KMV set operations are pure functions of the two bottom-k states
    // (merged state = bottom-k of the states' union; Beyer K∩ counts
    // merged hashes present in both states), so union / intersection /
    // novelty ESTIMATES all hash-match — the only doubles are the two
    // FLOOR-ed estimate divisions the distinct_sketch contract pinned
    // the per-batch novelty series replayed from the documents table
    // (the gauge's persisted states + compaction are the Spark side)
    "crawl_novelty" -> noveltyOracle(4, 256),
    // the rail-free production overlap: states re-derived, merge and
    // estimates replayed — k pinned by interpolation
    "kmv_overlap_indexed" -> kmvIndexedOracle(256),
    // NOTE: this oracle's 256 (rk <= 256 in so/sn/mg) and 255 (the
    // (k-1) factor in eo/en/eu) literals pin TextOps.kmvOverlap's
    // DEFAULT k = 256, which the registration above relies on. Change
    // the Scala default or register with an explicit k and these
    // literals must move with it — the hash gate fails opaquely
    // otherwise (same coupling as distinct_sketch's).
    "kmv_overlap" ->
      """WITH d AS (SELECT lang, doc_id % 5 = 0 AS is_new,
        |    string_split(text, ' ') AS l FROM documents),
        |occ AS (SELECT lang, is_new, unnest(CASE WHEN len(l) >= 3
        |    THEN list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
        |    ELSE []::VARCHAR[] END) AS g
        |  FROM d),
        |fl AS (SELECT lang, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h,
        |    MAX(CASE WHEN is_new THEN 1 ELSE 0 END) AS has_new,
        |    MAX(CASE WHEN is_new THEN 0 ELSE 1 END) AS has_old
        |  FROM occ GROUP BY 1, 2),
        |so AS (SELECT lang, h FROM (SELECT lang, h,
        |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
        |    FROM fl WHERE has_old = 1) WHERE rk <= 256),
        |sn AS (SELECT lang, h FROM (SELECT lang, h,
        |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
        |    FROM fl WHERE has_new = 1) WHERE rk <= 256),
        |mg AS (SELECT lang, h FROM (SELECT lang, h,
        |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk
        |    FROM (SELECT DISTINCT lang, h FROM
        |      (SELECT * FROM so UNION ALL SELECT * FROM sn))) WHERE rk <= 256),
        |eo AS (SELECT lang, COALESCE(CAST(FLOOR(255 * CAST(4294967296 AS DOUBLE)
        |      / (CASE WHEN COUNT(*) = 256 THEN MAX(h) END)) AS BIGINT), COUNT(*))
        |    AS est_old FROM so GROUP BY lang),
        |en AS (SELECT lang, COALESCE(CAST(FLOOR(255 * CAST(4294967296 AS DOUBLE)
        |      / (CASE WHEN COUNT(*) = 256 THEN MAX(h) END)) AS BIGINT), COUNT(*))
        |    AS est_new FROM sn GROUP BY lang),
        |eu AS (SELECT lang, COALESCE(CAST(FLOOR(255 * CAST(4294967296 AS DOUBLE)
        |      / (CASE WHEN COUNT(*) = 256 THEN MAX(h) END)) AS BIGINT), COUNT(*))
        |    AS est_union FROM mg GROUP BY lang),
        |kb AS (SELECT mg.lang, COUNT(*) AS n_kept,
        |    SUM(CASE WHEN o.in_old = 1 AND n.in_new = 1 THEN 1 ELSE 0 END) AS k_both
        |  FROM mg
        |  LEFT JOIN (SELECT lang, h, 1 AS in_old FROM so) o
        |    ON mg.lang = o.lang AND mg.h = o.h
        |  LEFT JOIN (SELECT lang, h, 1 AS in_new FROM sn) n
        |    ON mg.lang = n.lang AND mg.h = n.h
        |  GROUP BY 1),
        |ex AS (SELECT lang, COUNT(*) AS n_union_exact,
        |    SUM(CASE WHEN has_old = 1 AND has_new = 1 THEN 1 ELSE 0 END)
        |      AS n_inter_exact
        |  FROM fl GROUP BY 1)
        |SELECT ex.lang,
        |  CAST(COALESCE(est_old, 0) AS BIGINT) AS est_old,
        |  CAST(COALESCE(est_new, 0) AS BIGINT) AS est_new, est_union,
        |  CAST(k_both * est_union // n_kept AS BIGINT) AS est_inter,
        |  CASE WHEN COALESCE(est_new, 0) > 0
        |    THEN LEAST(CAST(1000000 AS BIGINT),
        |      CAST(GREATEST(0, 1000000 * (est_union - COALESCE(est_old, 0)))
        |        // est_new AS BIGINT))
        |    ELSE CAST(0 AS BIGINT) END AS novelty_ppm,
        |  CAST(n_union_exact AS BIGINT) AS n_union_exact,
        |  CAST(n_inter_exact AS BIGINT) AS n_inter_exact,
        |  CAST(1000000 * ABS(est_union - n_union_exact) // n_union_exact AS BIGINT)
        |    AS err_union_ppm
        |FROM ex LEFT JOIN eo USING (lang) LEFT JOIN en USING (lang)
        |  JOIN eu USING (lang) JOIN kb USING (lang)
        |ORDER BY lang""".stripMargin,
    // Count-Min is a pure function of the occurrence multiset (counters
    // are sums over row-salted md5 buckets), so the sketch ESTIMATE
    // itself hash-matches — the same move as distinct_sketch, applied
    // to frequencies
    "heavy_hitters" ->
      """WITH d AS (SELECT lang, string_split(text, ' ') AS l FROM documents),
        |occ AS (SELECT lang, unnest(CASE WHEN len(l) >= 3
        |    THEN list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
        |    ELSE []::VARCHAR[] END) AS g
        |  FROM d),
        |ex AS (SELECT lang, g, COUNT(*) AS n_exact FROM occ GROUP BY 1, 2),
        |top AS (SELECT lang, g, n_exact,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_exact DESC, g) AS rk
        |  FROM ex),
        |tp AS (SELECT * FROM top WHERE rk <= 8),
        |cms AS (SELECT lang, r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || g), 1, 8))::BIGINT % 1024 AS b,
        |    COUNT(*) AS c
        |  FROM occ, (SELECT unnest([0, 1, 2, 3]) AS r) rows
        |  GROUP BY 1, 2, 3),
        |probe AS (SELECT t.lang, t.g, t.n_exact, t.rk, MIN(c.c) AS est_count
        |  FROM (SELECT lang, g, n_exact, rk, unnest([0, 1, 2, 3]) AS r FROM tp) t
        |  JOIN cms c ON c.lang = t.lang AND c.r = t.r
        |    AND c.b = ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || t.g), 1, 8))::BIGINT % 1024
        |  GROUP BY 1, 2, 3, 4)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, g AS shingle,
        |  CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(est_count AS BIGINT) AS est_count,
        |  CAST((1000000 * (est_count - n_exact)) // n_exact AS BIGINT) AS over_ppm
        |FROM probe ORDER BY lang, rk""".stripMargin,
    "token_freq" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
        |SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk
        |FROM c ORDER BY rk LIMIT 100""".stripMargin,
    "token_bpe" ->
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\f\r]+|[ \t\n\f\r]+') AS pieces,
        |    len(string_split(text, ' ')) AS n_ws
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(pieces)) AS BIGINT) AS total_bpe,
        |  CAST(SUM(n_ws) AS BIGINT) AS total_ws,
        |  CAST(SUM(len(list_distinct(pieces))) AS BIGINT) AS total_bpe_distinct,
        |  CAST(MAX(len(pieces)) AS BIGINT) AS max_bpe
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,
    "quality_score" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |    len(list_filter(string_split(text, ' '),
        |        t -> list_contains(['the','a','of','and','to','in'], t))) AS n_stop,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t <> '' AND translate(t,
        |          'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', '') = '')) AS n_alpha
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_tokens,
        |    (1000000 * n_stop) // n_tokens AS stop_ppm,
        |    (1000000 * n_distinct) // n_tokens AS ttr_ppm,
        |    (1000000 * n_alpha) // n_tokens AS alpha_ppm
        |  FROM s),
        |sc AS (
        |  SELECT *,
        |    100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 40 END)
        |        - (CASE WHEN stop_ppm BETWEEN 20000 AND 600000 THEN 0 ELSE 20 END)
        |        - (CASE WHEN ttr_ppm >= 200000 THEN 0 ELSE 20 END)
        |        - (CASE WHEN alpha_ppm >= 600000 THEN 0 ELSE 20 END) AS score
        |  FROM m)
        |SELECT doc_id, n_tokens, stop_ppm, ttr_ppm, alpha_ppm, score,
        |  CAST(score >= 60 AS INT) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    "doc_rolling_fp" ->
      """WITH d AS (SELECT doc_id, trim(text) AS t FROM documents),
        |c AS (SELECT doc_id,
        |        list_transform(range(1, len(t) + 1),
        |          i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS BIGINT)) AS codes
        |      FROM d),
        |f AS (SELECT doc_id, codes,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
        |          (a, b) -> (a * 257 + b) % 1000000007) AS full_fp
        |      FROM c)
        |SELECT doc_id, full_fp,
        |  CASE WHEN len(codes) < 8 THEN full_fp ELSE
        |    list_min(list_transform(range(1, len(codes) - 6), j ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_slice(codes, CAST(j AS INT), CAST(j + 7 AS INT))),
        |        (a, b) -> (a * 257 + b) % 1000000007)))
        |  END AS win_fp
        |FROM f ORDER BY doc_id""".stripMargin,
    "scd2_history" ->
      """SELECT o_custkey AS key,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |  o_orderkey AS rev_id,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
        |  CAST(LEAD(o_orderdate) OVER w IS NULL AS INT) AS is_current
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY key, version""".stripMargin,
    "inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY token
        |        ORDER BY tf DESC, doc_id) AS rk FROM tf),
        |a AS (SELECT token, COUNT(*) AS df, SUM(tf) AS total_tf,
        |        MAX(tf) AS max_tf FROM tf GROUP BY 1)
        |SELECT a.token AS token, CAST(df AS BIGINT) AS df,
        |  CAST(total_tf AS BIGINT) AS total_tf, CAST(max_tf AS BIGINT) AS max_tf,
        |  r.doc_id AS top_doc
        |FROM a JOIN r ON a.token = r.token AND r.rk = 1
        |ORDER BY token""".stripMargin,
    "pagerank_ppm" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, 1000000000 + s AS dst FROM p
        |      UNION ALL SELECT 1000000000 + s AS src, c AS dst FROM p),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, nn),
        |r1 AS (SELECT e.dst AS node,
        |         (15 * (1000000000000 // n)) // 100 + (85 * SUM(r0.r // deg.outdeg)) // 100 AS r
        |       FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src, nn
        |       GROUP BY e.dst, n),
        |r2 AS (SELECT e.dst AS node,
        |         (15 * (1000000000000 // n)) // 100 + (85 * SUM(r1.r // deg.outdeg)) // 100 AS r
        |       FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src, nn
        |       GROUP BY e.dst, n),
        |r3 AS (SELECT e.dst AS node,
        |         (15 * (1000000000000 // n)) // 100 + (85 * SUM(r2.r // deg.outdeg)) // 100 AS r
        |       FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src, nn
        |       GROUP BY e.dst, n),
        |r4 AS (SELECT e.dst AS node,
        |         (15 * (1000000000000 // n)) // 100 + (85 * SUM(r3.r // deg.outdeg)) // 100 AS r
        |       FROM e JOIN r3 ON e.src = r3.node JOIN deg ON e.src = deg.src, nn
        |       GROUP BY e.dst, n),
        |r5 AS (SELECT e.dst AS node,
        |         (15 * (1000000000000 // n)) // 100 + (85 * SUM(r4.r // deg.outdeg)) // 100 AS r
        |       FROM e JOIN r4 ON e.src = r4.node JOIN deg ON e.src = deg.src, nn
        |       GROUP BY e.dst, n)
        |SELECT node, CAST(r AS BIGINT) AS rank_u FROM r5 ORDER BY node""".stripMargin,
    "tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, tf.token AS token, tf, df,
        |        tf * ((1000000 * n_docs) // df) AS score
        |      FROM tf JOIN df USING (token), n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, token) AS rk FROM s)
        |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(score AS BIGINT) AS score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "bm25_rank" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(len(l)) AS total_tokens,
        |         SUM(CASE WHEN list_contains(l, 'scan') THEN 1 ELSE 0 END) AS df_scan,
        |         SUM(CASE WHEN list_contains(l, 'join') THEN 1 ELSE 0 END) AS df_join,
        |         SUM(CASE WHEN list_contains(l, 'window') THEN 1 ELSE 0 END) AS df_window,
        |         SUM(CASE WHEN list_contains(l, 'vector') THEN 1 ELSE 0 END) AS df_vector
        |       FROM d),
        |p AS (SELECT doc_id, CAST(len(l) AS DOUBLE) AS dl,
        |        CAST(len(list_filter(l, x -> x = 'scan')) AS DOUBLE) AS tf_scan,
        |        CAST(len(list_filter(l, x -> x = 'join')) AS DOUBLE) AS tf_join,
        |        CAST(len(list_filter(l, x -> x = 'window')) AS DOUBLE) AS tf_window,
        |        CAST(len(list_filter(l, x -> x = 'vector')) AS DOUBLE) AS tf_vector
        |      FROM d),
        |s AS (SELECT doc_id, dl, round(
        |        ((n_docs - df_scan + 0.5) / (df_scan + 0.5)) * (tf_scan * (1.2 + 1) / (tf_scan + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_tokens AS DOUBLE) / n_docs)))) +
        |        ((n_docs - df_join + 0.5) / (df_join + 0.5)) * (tf_join * (1.2 + 1) / (tf_join + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_tokens AS DOUBLE) / n_docs)))) +
        |        ((n_docs - df_window + 0.5) / (df_window + 0.5)) * (tf_window * (1.2 + 1) / (tf_window + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_tokens AS DOUBLE) / n_docs)))) +
        |        ((n_docs - df_vector + 0.5) / (df_vector + 0.5)) * (tf_vector * (1.2 + 1) / (tf_vector + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_tokens AS DOUBLE) / n_docs))))
        |      , 6) AS score6
        |      FROM p, st),
        |r AS (SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens, score6 FROM s
        |      ORDER BY score6 DESC, doc_id LIMIT 20)
        |SELECT doc_id, n_tokens, score6,
        |  ROW_NUMBER() OVER (ORDER BY score6 DESC, doc_id) AS rk
        |FROM r ORDER BY rk""".stripMargin,
    "rarity_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |idf AS (SELECT token, (1000000 * n_docs) // df AS idf_ppm FROM df, n),
        |s AS (SELECT doc_id, SUM(tf) AS n_tokens,
        |        SUM(tf * idf_ppm) AS rarity_mass
        |      FROM tf JOIN idf USING (token) GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(rarity_mass // n_tokens AS BIGINT) AS rarity_ppm,
        |  CAST(rarity_mass // n_tokens >= 2000000 AS INT) AS flagged
        |FROM s ORDER BY doc_id""".stripMargin,
    "cooccur_pmi" ->
      // the top-10000-df vocabulary cap mirrors the Spark operator's
      // vocabCap (identical ORDER BY n DESC, token tie-break) so the
      // hash contract holds at any corpus vocabulary size, not just
      // while test-scale vocab stays under the cap
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |tok0 AS (SELECT doc_id, unnest(t) AS token FROM d),
        |df AS (SELECT token, COUNT(*) AS n FROM tok0 GROUP BY 1),
        |kept AS (SELECT token FROM df ORDER BY n DESC, token LIMIT 10000),
        |tok AS (SELECT doc_id, token FROM tok0 JOIN kept USING (token)),
        |p AS (SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS n_ab
        |      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.token < b.token
        |      GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT token_a, token_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(da.n AS BIGINT) AS n_a, CAST(db.n AS BIGINT) AS n_b,
        |  CAST((1000000 * n_ab * n_docs) // (da.n * db.n) AS BIGINT) AS lift_ppm
        |FROM p JOIN df da ON token_a = da.token
        |       JOIN df db ON token_b = db.token, n
        |WHERE n_ab >= 10
        |ORDER BY token_a, token_b""".stripMargin,
    "lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |big AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM d,
        |  unnest(list_transform(range(1, len(l)),
        |    i -> struct_pack(w1 := l[CAST(i AS INT)], w2 := l[CAST(i AS INT) + 1]))) AS t(p)),
        |bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
        |ctx AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |         SUM((1000000 * c12) // c1) AS mass
        |       FROM big JOIN bc USING (w1, w2) JOIN ctx USING (w1)
        |       GROUP BY 1)
        |SELECT docs.doc_id AS doc_id,
        |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(sc.mass // sc.n_bigrams AS BIGINT) AS lm_ppm,
        |  CAST(COALESCE(sc.mass // sc.n_bigrams < 32000, FALSE) AS INT) AS flagged
        |FROM documents docs LEFT JOIN sc ON docs.doc_id = sc.doc_id
        |ORDER BY doc_id""".stripMargin,
    // the INCREMENTAL clustering path under the exact gate: the oracle
    // recomputes the crawl-1 full CC AND the crawl-2 incremental
    // min-propagation over the batch↔cluster pair graph independently
    // (exact Jaccard — banding finds every qualifying pair at this
    // scale, the dedup_minhash contract)
    "dedup_cluster_incremental" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |old AS (SELECT * FROM d WHERE doc_id < 400),
        |neu AS (SELECT * FROM d WHERE doc_id >= 400),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM old a JOIN old b ON a.doc_id <> b.doc_id
        |  WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |        len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM old
        |  UNION
        |  SELECT p.y, reach.lbl FROM reach JOIN pairs p ON p.x = reach.node
        |  WHERE reach.lbl < p.y),
        |cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node),
        |e1 AS (
        |  SELECT DISTINCT n.doc_id AS src, cc.cluster AS dst
        |  FROM neu n JOIN old o
        |    ON 2 * len(list_intersect(n.t, o.t)) >=
        |       len(n.t) + len(o.t) - len(list_intersect(n.t, o.t))
        |  JOIN cc ON cc.doc_id = o.doc_id),
        |e2 AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM neu a JOIN neu b ON a.doc_id <> b.doc_id
        |  WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |        len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))),
        |edges AS (SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1
        |          UNION SELECT src, dst FROM e2),
        |seeds AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |reach2(node, lbl) AS (
        |  SELECT node, node FROM seeds
        |  UNION
        |  SELECT e.dst, reach2.lbl FROM reach2 JOIN edges e ON e.src = reach2.node
        |  WHERE reach2.lbl < e.dst),
        |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach2 GROUP BY node),
        |labels AS (
        |  SELECT doc_id, cluster FROM cc
        |  UNION ALL
        |  SELECT n.doc_id, COALESCE(comp.cluster, n.doc_id) AS cluster
        |  FROM neu n LEFT JOIN comp ON comp.doc_id = n.doc_id),
        |sizes AS (SELECT cluster, COUNT(*) AS cluster_size, MIN(doc_id) AS surv
        |          FROM labels GROUP BY cluster)
        |SELECT l.doc_id AS doc_id, l.cluster AS cluster,
        |  CAST(sizes.cluster_size AS BIGINT) AS cluster_size,
        |  CAST(l.doc_id = sizes.surv AS INT) AS keep
        |FROM labels l JOIN sizes ON l.cluster = sizes.cluster
        |ORDER BY l.doc_id""".stripMargin,
    "dedup_cluster" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM d a JOIN d b ON a.doc_id <> b.doc_id
        |  WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |        len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT p.y, reach.lbl FROM reach JOIN pairs p ON p.x = reach.node
        |  WHERE reach.lbl < p.y),
        |cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node),
        |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc GROUP BY cluster)
        |SELECT cc.doc_id AS doc_id, cc.cluster AS cluster,
        |  sizes.cluster_size AS cluster_size,
        |  CAST(cc.doc_id = cc.cluster AS INT) AS keep
        |FROM cc JOIN sizes ON cc.cluster = sizes.cluster
        |ORDER BY cc.doc_id""".stripMargin,
    // independent recomputation: the oracle re-derives clusters from the
    // text (recursive CTE), never reading the persisted label index the
    // Spark path serves from
    "dedup_cluster_stats" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM d a JOIN d b ON a.doc_id <> b.doc_id
        |  WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |        len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT p.y, reach.lbl FROM reach JOIN pairs p ON p.x = reach.node
        |  WHERE reach.lbl < p.y),
        |cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node),
        |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc GROUP BY cluster),
        |h AS (SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total_docs FROM documents)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
        |  CAST(1000000 * (cluster_size * n_clusters - n_clusters) // total_docs
        |    AS BIGINT) AS dup_ppm
        |FROM h, t ORDER BY cluster_size""".stripMargin,
    "dedup_cluster_best" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM d a JOIN d b ON a.doc_id <> b.doc_id
        |  WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |        len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT p.y, reach.lbl FROM reach JOIN pairs p ON p.x = reach.node
        |  WHERE reach.lbl < p.y),
        |cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node),
        |sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc GROUP BY cluster),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |    len(list_filter(string_split(text, ' '),
        |        t -> list_contains(['the','a','of','and','to','in'], t))) AS n_stop,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t <> '' AND translate(t,
        |          'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', '') = '')) AS n_alpha
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 40 END)
        |        - (CASE WHEN (1000000 * n_stop) // n_tokens BETWEEN 20000 AND 600000
        |               THEN 0 ELSE 20 END)
        |        - (CASE WHEN (1000000 * n_distinct) // n_tokens >= 200000 THEN 0 ELSE 20 END)
        |        - (CASE WHEN (1000000 * n_alpha) // n_tokens >= 600000 THEN 0 ELSE 20 END)
        |      AS score
        |  FROM s),
        |jq AS (SELECT cc.doc_id, cc.cluster, q.score FROM cc JOIN q USING (doc_id)),
        |best AS (
        |  SELECT cluster, doc_id AS best_doc FROM (
        |    SELECT cluster, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY cluster
        |                         ORDER BY score DESC, doc_id ASC) AS rk
        |    FROM jq) WHERE rk = 1)
        |SELECT jq.doc_id AS doc_id, jq.cluster AS cluster,
        |  sizes.cluster_size AS cluster_size, jq.score AS score,
        |  best.best_doc AS best_doc,
        |  CAST(jq.doc_id = best.best_doc AS INT) AS keep
        |FROM jq JOIN sizes USING (cluster) JOIN best USING (cluster)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(trim(text)) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_minhash" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
        |  CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS BIGINT) AS uni
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |      len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the threshold table is pure integer math over the exact J >= 0.5
    // pair set, which the oracle recomputes brute-force (the
    // dedup_minhash contract: banding finds every qualifying pair at
    // this scale)
    "dedup_threshold_stats" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    len(list_intersect(a.t, b.t)) AS i,
        |    len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS u
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |        len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))),
        |pb AS (SELECT 10 * i // u AS b10, da, db FROM p),
        |th AS (SELECT unnest(range(5, 11)) AS t10),
        |pc AS (SELECT t10, COUNT(*) AS n FROM th JOIN pb ON pb.b10 >= th.t10
        |       GROUP BY 1),
        |dm AS (SELECT doc_id, MAX(b10) AS mb FROM
        |         (SELECT da AS doc_id, b10 FROM pb
        |          UNION ALL SELECT db AS doc_id, b10 FROM pb)
        |       GROUP BY 1),
        |dc AS (SELECT t10, COUNT(*) AS n FROM th JOIN dm ON dm.mb >= th.t10
        |       GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT CAST(th.t10 AS BIGINT) AS t10,
        |  CAST(COALESCE(pc.n, 0) AS BIGINT) AS n_pairs_ge,
        |  CAST(COALESCE(dc.n, 0) AS BIGINT) AS n_docs_ge,
        |  CAST(1000000 * COALESCE(dc.n, 0) // tot.n AS BIGINT) AS flagged_ppm
        |FROM th LEFT JOIN pc USING (t10) LEFT JOIN dc USING (t10), tot
        |ORDER BY t10""".stripMargin,
    // 64-bit fingerprint assembled from two 32-bit md5-prefix halves
    // (hex chars 1-8 = bits 63..32, chars 9-16 = bits 31..0), the high
    // half recombined SIGNED so the product stays inside BIGINT — bit
    // pattern identical to the native Simhash64 big-endian read
    "dedup_incremental" -> dedupIncrementalOracle,
    // the loaded-index path must be VALUE-identical to the per-call
    // path, so it answers to the exact same oracle
    "dedup_incremental_indexed" -> dedupIncrementalOracle,
    "simhash_fp" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id,
        |        list_transform(t, tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT) AS hi,
        |        list_transform(t, tk -> ('0x' || substr(md5(tk), 9, 8))::BIGINT) AS lo
        |      FROM d),
        |f AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(0, 32), j ->
        |          CASE WHEN list_sum(list_transform(hi, hv ->
        |                 CASE WHEN (hv >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS hi_fp,
        |        CAST(list_sum(list_transform(range(0, 32), j ->
        |          CASE WHEN list_sum(list_transform(lo, hv ->
        |                 CASE WHEN (hv >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS lo_fp
        |      FROM h)
        |SELECT doc_id,
        |  CAST((hi_fp - CASE WHEN hi_fp >= 2147483648 THEN 4294967296 ELSE 0 END)
        |    * 4294967296 + lo_fp AS BIGINT) AS simhash
        |FROM f ORDER BY doc_id""".stripMargin,
    "simhash_near" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT doc_id,
        |        list_transform(t, tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT) AS hi,
        |        list_transform(t, tk -> ('0x' || substr(md5(tk), 9, 8))::BIGINT) AS lo
        |      FROM d),
        |f AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(0, 32), j ->
        |          CASE WHEN list_sum(list_transform(hi, hv ->
        |                 CASE WHEN (hv >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS hi_fp,
        |        CAST(list_sum(list_transform(range(0, 32), j ->
        |          CASE WHEN list_sum(list_transform(lo, hv ->
        |                 CASE WHEN (hv >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS lo_fp
        |      FROM h),
        |s AS (SELECT doc_id,
        |        CAST((hi_fp - CASE WHEN hi_fp >= 2147483648 THEN 4294967296 ELSE 0 END)
        |          * 4294967296 + lo_fp AS BIGINT) AS simhash
        |      FROM f)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hd
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (SELECT doc_id, list_distinct(
        |        CASE WHEN len(l) >= 3
        |          THEN list_transform(range(1, len(l) - 1),
        |                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
        |          ELSE []::VARCHAR[] END) AS grams
        |      FROM d)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
        |  CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS BIGINT) AS uni
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE 2 * len(list_intersect(a.grams, b.grams)) >=
        |      len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos6 FROM p WHERE cos6 >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_embedding_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos6 FROM p WHERE cos6 >= 0.8
        |ORDER BY vec_a, vec_b""".stripMargin,
    "decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (SELECT doc_id, list_distinct(CASE WHEN len(l) >= 8
        |        THEN list_transform(range(1, len(l) - 6), i ->
        |          l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
        |          l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7])
        |        ELSE []::VARCHAR[] END) AS grams
        |      FROM d),
        |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0),
        |sh AS (SELECT doc_id, COUNT(*) AS n_shared
        |       FROM (SELECT doc_id, unnest(grams) AS gram FROM tr) x
        |       JOIN ev USING (gram) GROUP BY doc_id)
        |SELECT tr.doc_id AS doc_id, CAST(len(tr.grams) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(COALESCE(sh.n_shared, 0) > 0 AS INT) AS contaminated
        |FROM tr LEFT JOIN sh ON tr.doc_id = sh.doc_id
        |ORDER BY doc_id""".stripMargin,
    // union of the decontaminate and semantic_decon oracle chains,
    // joined on the shared id space
    "decon_combined" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (SELECT doc_id, list_distinct(CASE WHEN len(l) >= 8
        |        THEN list_transform(range(1, len(l) - 6), i ->
        |          l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
        |          l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7])
        |        ELSE []::VARCHAR[] END) AS grams
        |      FROM d),
        |evl AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |trl AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0),
        |sh AS (SELECT doc_id, COUNT(*) AS n_shared
        |       FROM (SELECT doc_id, unnest(grams) AS gram FROM trl) x
        |       JOIN evl USING (gram) GROUP BY doc_id),
        |lex AS (SELECT trl.doc_id,
        |         CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |         CAST(COALESCE(sh.n_shared, 0) > 0 AS INT) AS lex_flag
        |       FROM trl LEFT JOIN sh ON trl.doc_id = sh.doc_id),
        |e AS (SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |ev2 AS (SELECT * FROM e WHERE vec_id % 97 = 0),
        |tr2 AS (SELECT * FROM e WHERE vec_id % 97 <> 0),
        |s2 AS (SELECT tr2.vec_id, ev2.vec_id AS eval_id,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(tr2.embedding[k] AS DOUBLE) * CAST(ev2.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (tr2.norm * ev2.norm), 6) AS cos6
        |  FROM tr2, ev2),
        |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, eval_id) AS rk FROM s2),
        |a2 AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN cos6 >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_close
        |  FROM s2 GROUP BY 1),
        |sem AS (SELECT a2.vec_id, a2.n_close, r2.cos6 AS max_cos6,
        |    CAST(a2.n_close > 0 AS INT) AS sem_flag
        |  FROM a2 JOIN r2 USING (vec_id) WHERE r2.rk = 1)
        |SELECT lex.doc_id, lex.n_shared, lex.lex_flag,
        |  sem.n_close, sem.max_cos6, sem.sem_flag,
        |  CAST(lex.lex_flag = 0 AND sem.sem_flag = 0 AS INT) AS keep
        |FROM lex JOIN sem ON sem.vec_id = lex.doc_id
        |ORDER BY lex.doc_id""".stripMargin,
    "contamination_report" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (SELECT doc_id, list_distinct(CASE WHEN len(l) >= 8
        |        THEN list_transform(range(1, len(l) - 6), i ->
        |          l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
        |          l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7])
        |        ELSE []::VARCHAR[] END) AS grams
        |      FROM d),
        |ev AS (SELECT doc_id AS eval_id, grams FROM g WHERE doc_id % 97 = 0),
        |evg AS (SELECT eval_id, unnest(grams) AS gram FROM ev),
        |trg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
        |hits AS (SELECT eval_id, COUNT(DISTINCT doc_id) AS n_contaminating_docs,
        |               COUNT(*) AS n_shared_grams
        |         FROM trg JOIN evg USING (gram) GROUP BY eval_id)
        |SELECT ev.eval_id AS eval_id, CAST(len(ev.grams) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(hits.n_contaminating_docs, 0) AS BIGINT) AS n_contaminating_docs,
        |  CAST(COALESCE(hits.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
        |  CAST(COALESCE(hits.n_contaminating_docs, 0) > 0 AS INT) AS compromised
        |FROM ev LEFT JOIN hits USING (eval_id)
        |ORDER BY eval_id""".stripMargin,
    "sample_stratified" ->
      """WITH d AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS skey
        |  FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rk
        |      FROM d)
        |SELECT doc_id, lang, skey, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "shard_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |      FROM d)
        |SELECT doc_id, n_tokens, CAST(start AS BIGINT) AS start,
        |  CAST(start // 20000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "domain_mix" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS n_docs,
        |             SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS cell_tokens
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT SUM(cell_tokens) AS tot_tokens, COUNT(*) AS n_cells FROM c),
        |m AS (SELECT lang, source, n_docs, cell_tokens,
        |        (1000000 * cell_tokens) // tot_tokens AS share_ppm,
        |        1000000 // n_cells AS target_ppm
        |      FROM c, t)
        |SELECT lang, source, n_docs, CAST(cell_tokens AS BIGINT) AS cell_tokens,
        |  CAST(share_ppm AS BIGINT) AS share_ppm,
        |  CAST(target_ppm AS BIGINT) AS target_ppm,
        |  CAST(least(1000000, (1000000 * target_ppm) // greatest(share_ppm, 1)) AS BIGINT) AS rate_ppm
        |FROM m ORDER BY lang, source""".stripMargin,
    "domain_mix_temperature" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS n_docs,
        |             SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS cell_tokens
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT SUM(cell_tokens) AS tot_tokens FROM c),
        |s AS (SELECT lang, source, n_docs, cell_tokens,
        |        (1000000 * cell_tokens) // tot_tokens AS share_ppm,
        |        CAST(floor(sqrt(CAST((1000000 * cell_tokens) // tot_tokens AS DOUBLE)))
        |             AS BIGINT) AS temp_w
        |      FROM c, t),
        |ws AS (SELECT SUM(temp_w) AS sum_w FROM s)
        |SELECT lang, source, n_docs, CAST(cell_tokens AS BIGINT) AS cell_tokens,
        |  CAST(share_ppm AS BIGINT) AS share_ppm,
        |  CAST(temp_w AS BIGINT) AS temp_w,
        |  CAST((1000000 * temp_w) // sum_w AS BIGINT) AS weight_ppm,
        |  CAST(least(1000000,
        |    (1000000 * ((1000000 * temp_w) // sum_w)) // greatest(share_ppm, 1))
        |    AS BIGINT) AS rate_ppm
        |FROM s, ws ORDER BY lang, source""".stripMargin,
    // the domain_mix_temperature chain extended with the budget/epoch
    // arithmetic; split products mirror the Spark side exactly
    "epoch_plan" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS n_docs,
        |             SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS cell_tokens
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT SUM(cell_tokens) AS tot_tokens FROM c),
        |s AS (SELECT lang, source, cell_tokens,
        |        (1000000 * cell_tokens) // tot_tokens AS share_ppm,
        |        CAST(floor(sqrt(CAST((1000000 * cell_tokens) // tot_tokens AS DOUBLE)))
        |             AS BIGINT) AS temp_w
        |      FROM c, t),
        |ws AS (SELECT SUM(temp_w) AS sum_w FROM s),
        |m AS (SELECT lang, source, cell_tokens,
        |        (1000000 * temp_w) // sum_w AS weight_ppm
        |      FROM s, ws),
        |b AS (SELECT tot_tokens // 1000000 * 2000000 +
        |        (tot_tokens % 1000000) * 2000000 // 1000000 AS budget_tokens
        |      FROM t),
        |p AS (SELECT m.*, b.budget_tokens,
        |        b.budget_tokens // 1000000 * m.weight_ppm +
        |          (b.budget_tokens % 1000000) * m.weight_ppm // 1000000 AS planned_tokens
        |      FROM m, b),
        |ep AS (SELECT p.*,
        |        planned_tokens // cell_tokens * 1000000 +
        |          (planned_tokens % cell_tokens) * 1000000 // cell_tokens AS epochs_ppm
        |      FROM p)
        |SELECT lang, source, CAST(cell_tokens AS BIGINT) AS cell_tokens,
        |  CAST(weight_ppm AS BIGINT) AS weight_ppm,
        |  CAST(budget_tokens AS BIGINT) AS budget_tokens,
        |  CAST(planned_tokens AS BIGINT) AS planned_tokens,
        |  CAST(epochs_ppm AS BIGINT) AS epochs_ppm,
        |  CAST(least(epochs_ppm, 4000000) AS BIGINT) AS epochs_capped_ppm,
        |  CAST(cell_tokens // 1000000 * least(epochs_ppm, 4000000) +
        |    (cell_tokens % 1000000) * least(epochs_ppm, 4000000) // 1000000
        |    AS BIGINT) AS alloc_tokens
        |FROM ep ORDER BY lang, source""".stripMargin,
    "repetition_stats" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(l)),
        |          i -> l[i] || ' ' || l[i+1])) AS gram
        |      FROM d),
        |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |s AS (SELECT doc_id, SUM(cnt) AS n_2grams, COUNT(*) AS n_distinct_2grams,
        |        MAX(cnt) AS max_cnt,
        |        SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS rep_toks
        |      FROM c GROUP BY 1)
        |SELECT doc_id, CAST(n_2grams AS BIGINT) AS n_2grams,
        |  CAST(n_distinct_2grams AS BIGINT) AS n_distinct_2grams,
        |  CAST((1000000 * max_cnt) // n_2grams AS BIGINT) AS top_ppm,
        |  CAST((1000000 * rep_toks) // n_2grams AS BIGINT) AS rep_ppm,
        |  CAST((1000000 * rep_toks) // n_2grams >= 200000 AS INT) AS flagged
        |FROM s ORDER BY doc_id""".stripMargin,
    "cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |s AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM e a JOIN e b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk FROM s)
        |SELECT q_id, n_id, cos6, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
    // cosine_topk's brute-force chain with the contrastive-mining
    // filters: different label, near-dup ceiling on the ROUNDED cosine
    "hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |s AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS neg_id,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM e a JOIN e b
        |    ON a.vec_id < 20 AND b.vec_id <> a.vec_id AND b.label <> a.label),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, neg_id) AS rk
        |      FROM s WHERE cos6 < 0.995)
        |SELECT q_id, neg_id, cos6, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 8 ORDER BY q_id, rk""".stripMargin,
    // the hard_negatives brute-force chain folded to per-anchor argmaxes
    // on both sides (ROW_NUMBER()=1 == max(struct) with id-asc ties)
    "triplet_mine" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |s AS MATERIALIZED (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |    a.label = b.label AS same,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM e a JOIN e b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
        |p AS (SELECT q_id, n_id AS pos_id, cos6 AS pos_cos6 FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk
        |        FROM s WHERE same) WHERE rk = 1),
        |n AS (SELECT q_id, n_id AS neg_id, cos6 AS neg_cos6 FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk
        |        FROM s WHERE NOT same AND cos6 < 0.995) WHERE rk = 1)
        |SELECT p.q_id, p.pos_id, p.pos_cos6, n.neg_id, n.neg_cos6,
        |  round(p.pos_cos6 - n.neg_cos6, 6) AS margin6
        |FROM p JOIN n USING (q_id) ORDER BY p.q_id""".stripMargin,
    // the ann_exact_rerank probe replay with the contrastive filters
    "hard_negatives_indexed" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:ivfpq}}/centroids/*.parquet'),
        |l AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.cid,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(q.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.norm * c.cnorm), 6) AS ccos6
        |  FROM e q, c WHERE q.vec_id < 20),
        |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos6 DESC, cid) AS crk FROM p),
        |cand AS (
        |  SELECT DISTINCT pr.q_id, l.vec_id AS neg_id
        |  FROM pr JOIN l ON l.cid = pr.cid
        |  WHERE pr.crk <= 4 AND l.vec_id <> pr.q_id),
        |s AS (
        |  SELECT cand.q_id, cand.neg_id,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM cand
        |  JOIN e a ON a.vec_id = cand.q_id
        |  JOIN e b ON b.vec_id = cand.neg_id AND b.label <> a.label),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, neg_id) AS rk
        |      FROM s WHERE cos6 < 0.995)
        |SELECT q_id, neg_id, cos6, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 8 ORDER BY q_id, rk""".stripMargin,
    // full probe-path replay (the ann_exact_rerank pattern) + the
    // integer micro-unit margin: k-NN sums are exact BIGINT sums, the
    // one double division is margin6 = round(2·c·na·nb/(sa·nb+sb·na), 6)
    "bitext_mine" ->
      """WITH langs AS (SELECT doc_id AS vec_id, lang FROM documents),
        |e AS (
        |  SELECT emb.vec_id, emb.embedding, l.lang,
        |    sqrt(list_reduce(list_transform(emb.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings emb JOIN langs l ON l.vec_id = emb.vec_id),
        |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:ivfpq}}/centroids/*.parquet'),
        |li AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
        |p AS (
        |  SELECT q.vec_id AS src_id, c.cid,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(q.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.norm * c.cnorm), 6) AS ccos6
        |  FROM e q, c WHERE q.lang = 'de'),
        |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY ccos6 DESC, cid) AS crk FROM p),
        |cand AS (
        |  SELECT DISTINCT pr.src_id, li.vec_id AS tgt_id
        |  FROM pr JOIN li ON li.cid = pr.cid
        |  WHERE pr.crk <= 4 AND li.vec_id <> pr.src_id),
        |s AS (
        |  SELECT cand.src_id, cand.tgt_id,
        |    CAST(FLOOR(round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) * 1000000.0 + 0.5) AS BIGINT) AS c6i
        |  FROM cand
        |  JOIN e a ON a.vec_id = cand.src_id
        |  JOIN e b ON b.vec_id = cand.tgt_id AND b.lang = 'en'),
        |ss AS (SELECT src_id, SUM(c6i) AS sa, COUNT(*) AS na FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY c6i DESC, tgt_id) AS rks FROM s)
        |       WHERE rks <= 4 GROUP BY 1),
        |st AS (SELECT tgt_id, SUM(c6i) AS sb, COUNT(*) AS nb FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY c6i DESC, src_id) AS rkt FROM s)
        |       WHERE rkt <= 4 GROUP BY 1),
        |m AS (SELECT s.src_id, s.tgt_id, s.c6i,
        |    round(2.0 * s.c6i * ss.na * st.nb / (ss.sa * st.nb + st.sb * ss.na), 6) AS margin6
        |  FROM s JOIN ss ON ss.src_id = s.src_id JOIN st ON st.tgt_id = s.tgt_id
        |  WHERE ss.sa * st.nb + st.sb * ss.na > 0),
        |b AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY margin6 DESC, tgt_id) AS brk FROM m),
        |bt AS (SELECT src_id AS bt_src, tgt_id AS bt_tgt FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY margin6 DESC, src_id) AS trk FROM m)
        |       WHERE trk = 1)
        |SELECT b.src_id, b.tgt_id, round(b.c6i / 1000000.0, 6) AS cos6, b.margin6,
        |  CASE WHEN bt.bt_src IS NOT NULL THEN 1 ELSE 0 END AS mutual
        |FROM b LEFT JOIN bt ON bt.bt_src = b.src_id AND bt.bt_tgt = b.tgt_id
        |WHERE b.brk = 1 ORDER BY b.src_id""".stripMargin,
    // the hard_negatives_indexed probe replay + triplet_mine's two
    // argmaxes — probe planning, candidate union, and both best-of
    // selections recomputed from the persisted artifacts
    "triplet_mine_indexed" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:ivfpq}}/centroids/*.parquet'),
        |l AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.cid,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(q.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.norm * c.cnorm), 6) AS ccos6
        |  FROM e q, c WHERE q.vec_id < 20),
        |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos6 DESC, cid) AS crk FROM p),
        |cand AS (
        |  SELECT DISTINCT pr.q_id, l.vec_id AS n_id
        |  FROM pr JOIN l ON l.cid = pr.cid
        |  WHERE pr.crk <= 4 AND l.vec_id <> pr.q_id),
        |s AS (
        |  SELECT cand.q_id, cand.n_id, a.label = b.label AS same,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM cand
        |  JOIN e a ON a.vec_id = cand.q_id
        |  JOIN e b ON b.vec_id = cand.n_id),
        |p2 AS (SELECT q_id, n_id AS pos_id, cos6 AS pos_cos6 FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk
        |        FROM s WHERE same) WHERE rk = 1),
        |n2 AS (SELECT q_id, n_id AS neg_id, cos6 AS neg_cos6 FROM (
        |        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk
        |        FROM s WHERE NOT same AND cos6 < 0.995) WHERE rk = 1)
        |SELECT p2.q_id, p2.pos_id, p2.pos_cos6, n2.neg_id, n2.neg_cos6,
        |  round(p2.pos_cos6 - n2.neg_cos6, 6) AS margin6
        |FROM p2 JOIN n2 USING (q_id) ORDER BY p2.q_id""".stripMargin,
    // one level deeper than ann_exact_rerank: the QUANTIZED (ADC)
    // scoring replayed from the persisted books/codes — per-query LUT
    // dots, the subspace-ordered fold (list_prepend(0.0) reproduces the
    // engine's aggregate(…, 0.0D, +) fold bit-for-bit), round, rank
    "ann_adc_rerank" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:ivfpq}}/centroids/*.parquet'),
        |l AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
        |bk AS (SELECT sub, code, cv FROM '{{scratch:ivfpq}}/books/*.parquet'),
        |cd AS (SELECT vec_id, codes FROM '{{scratch:ivfpq}}/codes/*.parquet'),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.cid,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(q.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.norm * c.cnorm), 6) AS ccos6
        |  FROM e q, c WHERE q.vec_id < 20),
        |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos6 DESC, cid) AS crk FROM p),
        |cand AS (
        |  SELECT DISTINCT pr.q_id, l.vec_id AS n_id
        |  FROM pr JOIN l ON l.cid = pr.cid
        |  WHERE pr.crk <= 4 AND l.vec_id <> pr.q_id),
        |qu AS (SELECT vec_id AS q_id,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) / norm AS REAL)) AS unit
        |  FROM e WHERE vec_id < 20),
        |qs AS (SELECT q_id, CAST(t.k AS INTEGER) AS sub,
        |    list_slice(unit, CAST(t.k AS INTEGER) * 8 + 1, CAST(t.k AS INTEGER) * 8 + 8) AS qsv
        |  FROM qu, range(0, 8) t(k)),
        |lut AS (SELECT qs.q_id, qs.sub, bk.code,
        |    list_reduce(list_transform(range(1, 9),
        |      k -> CAST(qs.qsv[k] AS DOUBLE) * CAST(bk.cv[k] AS DOUBLE)),
        |      (x, y) -> x + y) AS contrib
        |  FROM qs JOIN bk ON bk.sub = qs.sub),
        |adc AS (SELECT cand.q_id, cand.n_id,
        |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(lut.contrib ORDER BY lut.sub)), (x, y) -> x + y), 6) AS adc6
        |  FROM cand
        |  JOIN cd ON cd.vec_id = cand.n_id
        |  JOIN lut ON lut.q_id = cand.q_id AND lut.code = cd.codes[lut.sub + 1]
        |  GROUP BY cand.q_id, cand.n_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc6 DESC, n_id) AS rk FROM adc)
        |SELECT q_id, n_id, adc6, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin,
    // FULL training replay (the bpe_learn unrolled-rounds precedent on
    // the vector side): quantized Lloyd seeds/rounds, top-2 inverted
    // index, top-4 probe (raw-double cosine, cid-asc ties — the
    // ivfSearch contract), candidate union, exact top-5
    "ann_ivf" ->
      s"""WITH $EmbNormCte,
         |${ivfTrainCte(graft.sim.VectorIndexStore.IvfK)},
         |idx AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS ark
         |    FROM (SELECT e.vec_id, c.cid,
         |        list_reduce(list_transform(range(1, 65),
         |          k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
         |          (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
         |      FROM e, cents c)) WHERE ark <= 2),
         |pr AS (
         |  SELECT q_id, cid FROM (
         |    SELECT q_id, cid, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos DESC, cid) AS prk
         |    FROM (SELECT e.vec_id AS q_id, c.cid,
         |        list_reduce(list_transform(range(1, 65),
         |          k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
         |          (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
         |      FROM e, cents c WHERE e.vec_id < 20)) WHERE prk <= 4),
         |cand AS (
         |  SELECT DISTINCT pr.q_id, idx.vec_id AS n_id
         |  FROM pr JOIN idx ON idx.cid = pr.cid
         |  WHERE idx.vec_id <> pr.q_id),
         |${exactTop5Sql("cand")}""".stripMargin,
    // coarse + PQ training replay, then the full IVF-PQ query path:
    // per-query LUT, subspace-ordered ADC fold (raw double — the
    // ivfPqSearch shortlist contract), corpus-scaled re-rank depth
    // (GREATEST(100, n // 25) pins Similarity.PqRerank and the /25
    // divisor), exact top-5 of the shortlist
    "ann_ivf_pq" ->
      s"""WITH $EmbNormCte,
         |${ivfTrainCte(graft.sim.VectorIndexStore.IvfK)},
         |${pqTrainCte()},
         |idx AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS ark
         |    FROM (SELECT e.vec_id, c.cid,
         |        list_reduce(list_transform(range(1, 65),
         |          k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
         |          (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
         |      FROM e, cents c)) WHERE ark <= 2),
         |nn AS (SELECT COUNT(*) AS n FROM cd),
         |pr AS (
         |  SELECT q_id, cid FROM (
         |    SELECT q_id, cid, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos DESC, cid) AS prk
         |    FROM (SELECT e.vec_id AS q_id, c.cid,
         |        list_reduce(list_transform(range(1, 65),
         |          k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
         |          (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
         |      FROM e, cents c WHERE e.vec_id < 20)) WHERE prk <= 4),
         |cand AS (
         |  SELECT DISTINCT pr.q_id, idx.vec_id AS n_id
         |  FROM pr JOIN idx ON idx.cid = pr.cid
         |  WHERE idx.vec_id <> pr.q_id),
         |lut AS (SELECT qs.q_id, qs.sub, bk.code,
         |    list_reduce(list_transform(range(1, 9),
         |      k -> CAST(qs.qsv[k] AS DOUBLE) * CAST(bk.cv[k] AS DOUBLE)),
         |      (x, y) -> x + y) AS contrib
         |  FROM (SELECT vec_id AS q_id, sub, sv AS qsv FROM sb WHERE vec_id < 20) qs
         |  JOIN bk ON bk.sub = qs.sub),
         |adc AS (SELECT cand.q_id, cand.n_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(lut.contrib ORDER BY lut.sub)), (x, y) -> x + y) AS adcv
         |  FROM cand
         |  JOIN cd ON cd.vec_id = cand.n_id
         |  JOIN lut ON lut.q_id = cand.q_id AND lut.code = cd.codes[lut.sub + 1]
         |  GROUP BY cand.q_id, cand.n_id),
         |short AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adcv DESC, n_id) AS ark FROM adc)
         |  WHERE ark <= (SELECT GREATEST(100, n // 25) FROM nn)),
         |${exactTop5Sql("short")}""".stripMargin,
    // the same IVF-PQ query path replayed from the PERSISTED artifacts
    // (ann_adc_rerank's sources plus meta) — raw-double probe and ADC
    // ordering (the ivfPqSearch contract, vs probeCandidates' rounded
    // ccos6), depth from the index metadata like the serving path
    "ann_ivf_pq_indexed" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:ivfpq}}/centroids/*.parquet'),
        |l AS (SELECT cid, vec_id FROM '{{scratch:ivfpq}}/lists/*.parquet'),
        |bk AS (SELECT sub, code, cv FROM '{{scratch:ivfpq}}/books/*.parquet'),
        |cd AS (SELECT vec_id, codes FROM '{{scratch:ivfpq}}/codes/*.parquet'),
        |nn AS (SELECT n FROM '{{scratch:ivfpq}}/meta/*.parquet'),
        |pr AS (
        |  SELECT q_id, cid FROM (
        |    SELECT q_id, cid, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos DESC, cid) AS prk
        |    FROM (SELECT e.vec_id AS q_id, c.cid,
        |        list_reduce(list_transform(range(1, 65),
        |          k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
        |          (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
        |      FROM e, c WHERE e.vec_id < 20)) WHERE prk <= 4),
        |cand AS (
        |  SELECT DISTINCT pr.q_id, l.vec_id AS n_id
        |  FROM pr JOIN l ON l.cid = pr.cid
        |  WHERE l.vec_id <> pr.q_id),
        |lut AS (SELECT qs.q_id, qs.sub, bk.code,
        |    list_reduce(list_transform(range(1, 9),
        |      k -> CAST(qs.qsv[k] AS DOUBLE) * CAST(bk.cv[k] AS DOUBLE)),
        |      (x, y) -> x + y) AS contrib
        |  FROM (SELECT vec_id AS q_id, CAST(t.k AS INTEGER) AS sub,
        |      list_slice(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) / norm AS REAL)),
        |        CAST(t.k AS INTEGER) * 8 + 1, CAST(t.k AS INTEGER) * 8 + 8) AS qsv
        |    FROM e, range(0, 8) t(k) WHERE vec_id < 20) qs
        |  JOIN bk ON bk.sub = qs.sub),
        |adc AS (SELECT cand.q_id, cand.n_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(lut.contrib ORDER BY lut.sub)), (x, y) -> x + y) AS adcv
        |  FROM cand
        |  JOIN cd ON cd.vec_id = cand.n_id
        |  JOIN lut ON lut.q_id = cand.q_id AND lut.code = cd.codes[lut.sub + 1]
        |  GROUP BY cand.q_id, cand.n_id),
        |short AS (SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adcv DESC, n_id) AS ark FROM adc)
        |  WHERE ark <= (SELECT GREATEST(100, n // 25) FROM nn)),
        |s AS (
        |  SELECT short.q_id, short.n_id,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM short
        |  JOIN e a ON a.vec_id = short.q_id
        |  JOIN e b ON b.vec_id = short.n_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk FROM s)
        |SELECT q_id, n_id, cos6, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
    // hyperplane-LSH replay: the fixed sparse ±1 plane matrix is
    // inlined as a VALUES literal; per-plane dots fold nonzero terms in
    // dimension order exactly as the native expression does; bucket
    // equality is joined on (band, code) — equivalent to the hashed
    // bucket keys because the 256 (band, code) hash inputs are
    // collision-free (spec-pinned in SimilaritySpec); the query side
    // multi-probes its own code plus every 1-bit flip
    "ann_lsh" ->
      s"""WITH $EmbNormCte,
         |w(p, k1, s) AS (VALUES ${lshWeightValues(16, 4)}),
         |d AS MATERIALIZED (
         |  SELECT e.vec_id, w.p,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(w.s * CAST(e.embedding[w.k1] AS DOUBLE) ORDER BY w.k1)),
         |      (x, y) -> x + y) AS dot
         |  FROM e, w GROUP BY e.vec_id, w.p),
         |codes AS MATERIALIZED (
         |  SELECT vec_id, CAST(p // 4 AS INTEGER) AS band,
         |    CAST(SUM(CASE WHEN dot > 0.0 THEN 1 << (3 - CAST(p % 4 AS INTEGER)) ELSE 0 END) AS INTEGER) AS code
         |  FROM d GROUP BY 1, 2),
         |probes AS (
         |  SELECT vec_id AS q_id, band, xor(code, f.x) AS pcode
         |  FROM codes, (VALUES (0),(1),(2),(4),(8)) f(x)
         |  WHERE vec_id < 20),
         |cand AS (
         |  SELECT DISTINCT p.q_id, c.vec_id AS n_id
         |  FROM probes p JOIN codes c ON c.band = p.band AND c.code = p.pcode
         |  WHERE c.vec_id <> p.q_id),
         |${exactTop5Sql("cand")}""".stripMargin,
    // SemDeDup candidate generation replayed from the SAME quantized
    // Lloyd training CTE (k=16, top-3 multi-assignment — the
    // dedupEmbeddingAnnFrom defaults), within-list pairs verified with
    // the exact rounded cosine at the 0.35 threshold
    "dedup_embedding_ann" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    sqrt(list_reduce(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
         |  FROM embeddings
         |  WHERE len(list_filter(embedding,
         |    x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) = 0),
         |${ivfTrainCte(graft.sim.VectorIndexStore.IvfK)},
         |m AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS ark
         |    FROM (SELECT e.vec_id, c.cid,
         |        list_reduce(list_transform(range(1, 65),
         |          k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
         |          (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
         |      FROM e, cents c)) WHERE ark <= 3),
         |mm AS (SELECT m.vec_id, m.cid, e.embedding, e.norm FROM m JOIN e USING (vec_id)),
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(list_reduce(list_transform(range(1, 65),
         |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
         |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
         |  FROM mm a JOIN mm b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT DISTINCT vec_a, vec_b, cos6 FROM p WHERE cos6 >= 0.35""".stripMargin,
    // crawl-sync convergence gauge: re-derive top-2 assignment and
    // nearest-cell PQ encoding of the FULL corpus from the synced
    // artifact's frozen quantizers, then the same per-list rollup —
    // a missed append/delete, a mis-assignment, or a mis-encoding all
    // change a count, an id sum, or a code signature
    "vindex_sync" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:vsync}}/centroids/*.parquet'),
        |bk AS (SELECT sub, code, cv FROM '{{scratch:vsync}}/books/*.parquet'),
        |a AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (e.norm * c.cnorm) AS ccos
        |  FROM e, c),
        |lists AS (SELECT vec_id, cid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS ark
        |    FROM a) WHERE ark <= 2),
        |u AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) / norm AS REAL)) AS unit
        |  FROM e),
        |qs AS (SELECT vec_id, CAST(t.k AS INTEGER) AS sub,
        |    list_slice(unit, CAST(t.k AS INTEGER) * 8 + 1, CAST(t.k AS INTEGER) * 8 + 8) AS sv
        |  FROM u, range(0, 8) t(k)),
        |d AS (SELECT qs.vec_id, qs.sub, bk.code,
        |    list_reduce(list_transform(range(1, 9),
        |      k -> CAST(bk.cv[k] AS DOUBLE) * CAST(bk.cv[k] AS DOUBLE)),
        |      (x, y) -> x + y)
        |    - 2.0 * list_reduce(list_transform(range(1, 9),
        |      k -> CAST(qs.sv[k] AS DOUBLE) * CAST(bk.cv[k] AS DOUBLE)),
        |      (x, y) -> x + y) AS d2
        |  FROM qs JOIN bk ON bk.sub = qs.sub),
        |best AS (SELECT vec_id, sub, code FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rk
        |    FROM d) WHERE rk = 1),
        |sigs AS (SELECT vec_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list(CAST(code AS BIGINT) ORDER BY sub)), (acc, cc) -> acc * 37 + cc) AS sig
        |  FROM best GROUP BY vec_id)
        |SELECT l.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(l.vec_id) AS BIGINT) AS sum_vid,
        |  CAST(SUM(sigs.sig) AS BIGINT) AS code_sig
        |FROM lists l JOIN sigs ON sigs.vec_id = l.vec_id
        |GROUP BY l.cid ORDER BY l.cid""".stripMargin,
    // embedding-drift replay: top-1 frozen-centroid assignment
    // (quantized-cosine argmax, lowest-cid ties) + micro-unit cosines
    // re-derived from the synced artifact's persisted centroids; the
    // build/new split, shares, means, and flags are all integer-exact
    "embed_drift_stats" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |c AS (SELECT cid, cvec, cnorm FROM '{{scratch:vsync}}/centroids/*.parquet'),
        |a AS (
        |  SELECT e.vec_id, c.cid,
        |    CAST(FLOOR(round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(e.embedding[k] AS DOUBLE) * CAST(c.cvec[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (e.norm * c.cnorm), 6) * 1000000.0 + 0.5) AS BIGINT) AS c6i
        |  FROM e, c),
        |best AS (SELECT vec_id, cid, c6i, vec_id % 7 = 3 AS is_new FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c6i DESC, cid) AS rk
        |    FROM a) WHERE rk = 1),
        |per AS (
        |  SELECT cid,
        |    SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS n_build,
        |    SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS n_new,
        |    SUM(CASE WHEN is_new THEN 0 ELSE c6i END) AS s_build,
        |    SUM(CASE WHEN is_new THEN c6i ELSE 0 END) AS s_new
        |  FROM best GROUP BY 1),
        |tot AS (SELECT SUM(n_build) AS tb, SUM(n_new) AS tn FROM per)
        |SELECT per.cid, CAST(per.n_build AS BIGINT) AS n_build,
        |  CAST(per.n_new AS BIGINT) AS n_new,
        |  CAST((1000000 * per.n_build) // tot.tb AS BIGINT) AS build_share_ppm,
        |  CAST((1000000 * per.n_new) // tot.tn AS BIGINT) AS new_share_ppm,
        |  CAST(abs((1000000 * per.n_new) // tot.tn - (1000000 * per.n_build) // tot.tb) AS BIGINT) AS shift_ppm,
        |  CAST(CASE WHEN per.n_build > 0 THEN per.s_build // per.n_build ELSE -1 END AS BIGINT) AS build_mean_cos_ppm,
        |  CAST(CASE WHEN per.n_new > 0 THEN per.s_new // per.n_new ELSE -1 END AS BIGINT) AS new_mean_cos_ppm,
        |  CAST(CASE
        |    WHEN per.n_build = 0 OR per.n_new = 0 THEN 1
        |    WHEN abs((1000000 * per.n_new) // tot.tn - (1000000 * per.n_build) // tot.tb) > 25000 THEN 1
        |    WHEN per.s_build // per.n_build - per.s_new // per.n_new > 25000 THEN 1
        |    ELSE 0 END AS INT) AS drift_flag
        |FROM per, tot ORDER BY per.cid""".stripMargin,
    // drift gauge replay: BOTH sides recomputed from the corpus plus
    // the persisted frozen vocabulary — the committed baseline (build
    // slice under its own model) and the new-batch metrics; every ratio
    // is integer-exact ppm, so a stale baseline, a vocabulary miss, or
    // a threshold change all flip the hash
    "model_drift_stats" ->
      """WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
        |ws AS (SELECT w, n_sym, cnt FROM '{{scratch:bpedrift}}/wordstats/*.parquet'),
        |toks AS (
        |  SELECT d.doc_id, d.lang, tok.w
        |  FROM documents d, UNNEST(string_split(d.text, ' ')) AS tok(w)
        |  WHERE len(tok.w) > 0),
        |stats AS (
        |  SELECT CASE WHEN tk.doc_id <= b.lo + (b.hi - b.lo) * 4 // 5
        |              THEN 0 ELSE 1 END AS half, tk.lang,
        |    COUNT(*) AS n_words,
        |    SUM(CASE WHEN ws.w IS NULL THEN 1 ELSE 0 END) AS n_oov,
        |    SUM(COALESCE(ws.n_sym, len(tk.w))) AS n_bpe,
        |    SUM(CASE WHEN ws.cnt IS NOT NULL AND ws.cnt <= 2 THEN 1 ELSE 0 END) AS n_rare
        |  FROM toks tk LEFT JOIN ws ON ws.w = tk.w, b
        |  GROUP BY 1, 2),
        |base AS (SELECT lang,
        |    (1000000 * n_bpe) // n_words AS fert_base_ppm,
        |    (1000000 * n_rare) // n_words AS rare_base_ppm
        |  FROM stats WHERE half = 0),
        |cur AS (SELECT * FROM stats WHERE half = 1)
        |SELECT cur.lang, CAST(cur.n_words AS BIGINT) AS n_words,
        |  CAST((1000000 * cur.n_oov) // cur.n_words AS BIGINT) AS oov_ppm,
        |  CAST((1000000 * cur.n_bpe) // cur.n_words AS BIGINT) AS fert_ppm,
        |  CAST(COALESCE(base.fert_base_ppm, -1) AS BIGINT) AS fert_base_ppm,
        |  CAST((1000000 * cur.n_rare) // cur.n_words AS BIGINT) AS rare_ppm,
        |  CAST(COALESCE(base.rare_base_ppm, -1) AS BIGINT) AS rare_base_ppm,
        |  CAST(CASE
        |    WHEN COALESCE(base.fert_base_ppm, -1) < 0 THEN 1
        |    WHEN (1000000 * cur.n_oov) // cur.n_words > 50000 THEN 1
        |    WHEN abs((1000000 * cur.n_bpe) // cur.n_words - base.fert_base_ppm) * 10
        |         > base.fert_base_ppm THEN 1
        |    WHEN abs((1000000 * cur.n_rare) // cur.n_words - base.rare_base_ppm)
        |         > 25000 THEN 1
        |    ELSE 0 END AS INT) AS drift_flag
        |FROM cur LEFT JOIN base USING (lang)
        |ORDER BY cur.lang""".stripMargin,
    // the cosine_topk chain extended with the majority-label vote
    "knn_classify" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |s AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (a.norm * b.norm), 6) AS cos6
        |  FROM e a JOIN e b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rk FROM s),
        |v AS (SELECT r.q_id, emb.label, COUNT(*) AS votes
        |      FROM r JOIN embeddings emb ON emb.vec_id = r.n_id
        |      WHERE r.rk <= 5 GROUP BY 1, 2),
        |p AS (SELECT q_id, label AS pred_label, votes FROM (
        |        SELECT q_id, label, votes,
        |          ROW_NUMBER() OVER (PARTITION BY q_id
        |                             ORDER BY votes DESC, label ASC) AS vrk
        |        FROM v) WHERE vrk = 1)
        |SELECT p.q_id, p.pred_label, CAST(p.votes AS BIGINT) AS n_votes,
        |  t.label AS true_label,
        |  CAST(p.pred_label = t.label AS INT) AS correct
        |FROM p JOIN embeddings t ON t.vec_id = p.q_id
        |ORDER BY p.q_id""".stripMargin,
    // integer-exact contract: micro-unit quantized vectors, exact long
    // centroid sums, and every double expression consumes only exact
    // integers in element order — bit-identical across engines
    "embed_centroid_stats" ->
      """WITH qv AS (SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS q
        |  FROM embeddings),
        |ex AS (SELECT label, k AS pos, SUM(q[k]) AS s
        |  FROM qv, range(1, 65) t(k) GROUP BY 1, 2),
        |cn AS (SELECT label, list(s ORDER BY pos) AS cen FROM ex GROUP BY 1),
        |ct AS (SELECT label, COUNT(*) AS n_vecs FROM qv GROUP BY 1),
        |sc AS (SELECT qv.label,
        |    CAST(FLOOR(round(
        |      list_reduce(list_transform(range(1, 65),
        |        k -> CAST(qv.q[k] AS DOUBLE) * CAST(cn.cen[k] AS DOUBLE)),
        |        (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(qv.q,
        |           v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
        |         * sqrt(list_reduce(list_transform(cn.cen,
        |             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))),
        |      6) * CAST(1000000.0 AS DOUBLE) + 0.5) AS BIGINT) AS cos_ppm
        |  FROM qv JOIN cn USING (label))
        |SELECT ct.label, CAST(ct.n_vecs AS BIGINT) AS n_vecs,
        |  round(sqrt(list_reduce(list_transform(cn.cen,
        |      v -> (CAST(v AS DOUBLE) / ct.n_vecs) * (CAST(v AS DOUBLE) / ct.n_vecs)),
        |    (x, y) -> x + y)) / CAST(1000000.0 AS DOUBLE), 6) AS centroid_norm6,
        |  CAST(m.mean_ppm AS BIGINT) AS mean_cos_ppm,
        |  CAST(m.min_ppm AS BIGINT) AS min_cos_ppm
        |FROM ct JOIN cn USING (label)
        |JOIN (SELECT label, SUM(cos_ppm) // COUNT(*) AS mean_ppm,
        |        MIN(cos_ppm) AS min_ppm
        |      FROM sc GROUP BY 1) m USING (label)
        |ORDER BY ct.label""".stripMargin,
    // same double-precision element-order fold + round-6 contract the
    // cosine_topk oracle hash-matches
    "semantic_decon" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
        |  FROM embeddings),
        |ev AS (SELECT * FROM e WHERE vec_id % 97 = 0),
        |tr AS (SELECT * FROM e WHERE vec_id % 97 <> 0),
        |s AS (SELECT tr.vec_id, ev.vec_id AS eval_id,
        |    round(list_reduce(list_transform(range(1, 65),
        |      k -> CAST(tr.embedding[k] AS DOUBLE) * CAST(ev.embedding[k] AS DOUBLE)),
        |      (x, y) -> x + y) / (tr.norm * ev.norm), 6) AS cos6
        |  FROM tr, ev),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, eval_id) AS rk FROM s),
        |a AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN cos6 >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_close
        |  FROM s GROUP BY 1)
        |SELECT a.vec_id, a.n_close, r.cos6 AS max_cos6, r.eval_id AS closest_eval,
        |  CAST(a.n_close > 0 AS INT) AS contaminated
        |FROM a JOIN r USING (vec_id) WHERE r.rk = 1 ORDER BY a.vec_id""".stripMargin,
    "mm_binary_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        |  COUNT(DISTINCT sha256(text)) AS n_distinct_sha,
        |  MIN(sha256(text)) AS min_sha
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "mm_chunk" ->
      """WITH d AS (SELECT doc_id, text, strlen(text) AS n_bytes FROM documents),
        |ch AS (SELECT doc_id, text, n_bytes,
        |         unnest(range(0, CAST((n_bytes + 255) // 256 AS BIGINT))) AS chunk_id
        |       FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 256 AS BIGINT) AS off,
        |  CAST(least(256, n_bytes - chunk_id * 256) AS BIGINT) AS chunk_bytes,
        |  md5(substr(text, CAST(chunk_id * 256 + 1 AS INT), 256)) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    // chunk-level storage dedup: same chunk geometry as mm_chunk, then
    // distinct-by-digest per source — the blob-store capacity estimate
    "mm_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, source, text, strlen(text) AS n_bytes FROM documents),
        |ch AS (SELECT doc_id, source, text, n_bytes,
        |         unnest(range(0, CAST((n_bytes + 255) // 256 AS BIGINT))) AS chunk_id
        |       FROM d),
        |cc AS (SELECT source,
        |         CAST(least(256, n_bytes - chunk_id * 256) AS BIGINT) AS chunk_bytes,
        |         md5(substr(text, CAST(chunk_id * 256 + 1 AS INT), 256)) AS chunk_md5
        |       FROM ch),
        |tot AS (SELECT source, COUNT(*) AS n_chunks,
        |          SUM(chunk_bytes) AS total_bytes
        |        FROM cc GROUP BY 1),
        |un AS (SELECT source, COUNT(*) AS n_unique_chunks,
        |         SUM(chunk_bytes) AS unique_bytes
        |       FROM (SELECT DISTINCT source, chunk_md5, chunk_bytes FROM cc)
        |       GROUP BY 1)
        |SELECT source, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(n_unique_chunks AS BIGINT) AS n_unique_chunks,
        |  CAST(total_bytes AS BIGINT) AS total_bytes,
        |  CAST(unique_bytes AS BIGINT) AS unique_bytes,
        |  CAST((1000000 * unique_bytes) // total_bytes AS BIGINT) AS unique_ppm
        |FROM tot JOIN un USING (source) ORDER BY source""".stripMargin,
    // content-defined chunking: the oracle recomputes every boundary
    // with the same exact mod-1e9+7 window fold (k=16, mask 2^6) the
    // native cdc_boundaries expression runs, then slices segments
    "mm_chunk_cdc" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0),
        |c AS (SELECT doc_id, text, n,
        |  list_filter(range(16, n + 1), i ->
        |    list_reduce(list_transform(range(i - 15, i + 1),
        |      j -> CAST(unicode(substr(text, CAST(j AS INT), 1)) AS BIGINT)),
        |      (a, x) -> (a * 257 + x) % 1000000007) % 64 = 0) AS cuts
        |  FROM d),
        |seg AS (SELECT doc_id, text,
        |  list_prepend(CAST(0 AS BIGINT), cuts) AS starts,
        |  list_append(cuts, CAST(n AS BIGINT)) AS ends
        |  FROM c),
        |ex AS (SELECT doc_id, text,
        |  unnest(list_transform(range(1, len(starts) + 1),
        |    q -> struct_pack(s := starts[q], e := ends[q]))) AS seg
        |  FROM seg)
        |SELECT doc_id, CAST(seg.s AS BIGINT) AS off,
        |  CAST(seg.e - seg.s AS BIGINT) AS chunk_bytes,
        |  md5(substr(text, CAST(seg.s + 1 AS INT), CAST(seg.e - seg.s AS INT))) AS chunk_md5
        |FROM ex WHERE seg.e > seg.s""".stripMargin,
    // the CDC boundary replay (mm_chunk_cdc's CTE) feeding the
    // content-addressed rollup (mm_chunk_dedup's tail) — one oracle per
    // half, composed, so neither rule can drift from its twin
    "mm_chunk_cdc_dedup" -> CdcDedupOracle,
    // the SAME full-scan recompute verifies the batch-built store: the
    // incremental construction (build + append + content-addressed
    // digest dedup) must be indistinguishable from chunking the whole
    // corpus at once
    "mm_chunk_cdc_incremental" -> CdcDedupOracle,
    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, strlen(text) AS n_bytes FROM documents),
        |ch AS (SELECT doc_id, text, n_bytes,
        |         unnest(range(0, CAST((n_bytes + 255) // 256 AS BIGINT), 5)) AS chunk_id
        |       FROM d)
        |SELECT doc_id, CAST(chunk_id // 5 AS BIGINT) AS frame_seq,
        |  CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 256 AS BIGINT) AS off,
        |  CAST(least(256, n_bytes - chunk_id * 256) AS BIGINT) AS frame_bytes,
        |  md5(substr(text, CAST(chunk_id * 256 + 1 AS INT), 256)) AS frame_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    // every field predicted from the SOURCE columns (doc_id arithmetic,
    // md5 of raw text) — the oracle never touches the container bytes,
    // so it independently verifies the engine's byte-slicing decode
    "mm_meta" ->
      """SELECT doc_id, CAST(1 AS INT) AS magic_ok, CAST(1 AS BIGINT) AS version,
        |  CAST(16 + doc_id % 1024 AS BIGINT) AS width,
        |  CAST(16 + (doc_id // 1024) % 1024 AS BIGINT) AS height,
        |  CAST(1 + doc_id % 4 AS BIGINT) AS channels,
        |  CAST(strlen(text) AS BIGINT) AS n_body_bytes,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "importance_weights" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |src AS (SELECT token, COUNT(*) AS src_cnt FROM tok GROUP BY 1),
        |tgt AS (SELECT token, COUNT(*) AS tgt_cnt FROM tok WHERE doc_id % 97 = 0 GROUP BY 1),
        |st AS (SELECT SUM(src_cnt) AS s_total FROM src),
        |tt AS (SELECT COALESCE(SUM(tgt_cnt), 1) AS t_total FROM tgt),
        |r AS (SELECT token,
        |        (1000000 * COALESCE(tgt_cnt, 0) * s_total) // (src_cnt * t_total) AS ratio_ppm
        |      FROM src LEFT JOIN tgt USING (token), st, tt),
        |s AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(ratio_ppm) AS mass
        |      FROM tok JOIN r USING (token) GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(mass // n_tokens AS BIGINT) AS weight_ppm,
        |  CAST(mass // n_tokens >= 1000000 AS INT) AS flagged
        |FROM s ORDER BY doc_id""".stripMargin,
    "importance_sample" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |src AS (SELECT token, COUNT(*) AS src_cnt FROM tok GROUP BY 1),
        |tgt AS (SELECT token, COUNT(*) AS tgt_cnt FROM tok WHERE doc_id % 97 = 0 GROUP BY 1),
        |st AS (SELECT SUM(src_cnt) AS s_total FROM src),
        |tt AS (SELECT COALESCE(SUM(tgt_cnt), 1) AS t_total FROM tgt),
        |r AS (SELECT token,
        |        (1000000 * COALESCE(tgt_cnt, 0) * s_total) // (src_cnt * t_total) AS ratio_ppm
        |      FROM src LEFT JOIN tgt USING (token), st, tt),
        |s AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(ratio_ppm) AS mass
        |      FROM tok JOIN r USING (token) GROUP BY 1),
        |w AS (SELECT doc_id, CAST(mass // n_tokens AS BIGINT) AS weight_ppm,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS skey
        |      FROM s)
        |SELECT doc_id, weight_ppm, CAST(skey AS BIGINT) AS skey,
        |  CAST(skey < least(weight_ppm, 1000000) AS INT) AS kept
        |FROM w ORDER BY doc_id""".stripMargin,
    "seq_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |      FROM d)
        |SELECT doc_id, n_tokens, CAST(start AS BIGINT) AS start,
        |  CAST(start // 2048 AS BIGINT) AS first_seq,
        |  CAST((start + n_tokens - 1) // 2048 AS BIGINT) AS last_seq,
        |  CAST((start + n_tokens - 1) // 2048 - start // 2048 + 1 AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    // every gate's oracle unchanged, prefixed and joined — the composed
    // decision table is the AND of the individual hash-checked gates
    "curation_report" ->
      """WITH RECURSIVE
        |qs AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |    len(list_filter(string_split(text, ' '),
        |        t -> list_contains(['the','a','of','and','to','in'], t))) AS n_stop,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t <> '' AND translate(t,
        |          'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ', '') = '')) AS n_alpha
        |  FROM documents),
        |qm AS (
        |  SELECT doc_id, n_tokens,
        |    (1000000 * n_stop) // n_tokens AS stop_ppm,
        |    (1000000 * n_distinct) // n_tokens AS ttr_ppm,
        |    (1000000 * n_alpha) // n_tokens AS alpha_ppm
        |  FROM qs),
        |qg AS (
        |  SELECT doc_id, CAST(
        |    100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 40 END)
        |        - (CASE WHEN stop_ppm BETWEEN 20000 AND 600000 THEN 0 ELSE 20 END)
        |        - (CASE WHEN ttr_ppm >= 200000 THEN 0 ELSE 20 END)
        |        - (CASE WHEN alpha_ppm >= 600000 THEN 0 ELSE 20 END) >= 60 AS INT) AS q_keep
        |  FROM qm),
        |rpd AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |rpg AS (SELECT doc_id,
        |          unnest(list_transform(range(1, len(l)),
        |            i -> l[i] || ' ' || l[i+1])) AS gram
        |        FROM rpd),
        |rpc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM rpg GROUP BY 1, 2),
        |rp AS (SELECT doc_id, CAST((1000000 *
        |           SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)) // SUM(cnt)
        |           >= 200000 AS INT) AS rep_flagged
        |       FROM rpc GROUP BY 1),
        |rtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |rtf AS (SELECT doc_id, token, COUNT(*) AS tf FROM rtok GROUP BY 1, 2),
        |rdf AS (SELECT token, COUNT(*) AS df FROM rtf GROUP BY 1),
        |rn AS (SELECT COUNT(*) AS n_docs FROM documents),
        |ridf AS (SELECT token, (1000000 * n_docs) // df AS idf_ppm FROM rdf, rn),
        |rr AS (SELECT doc_id, CAST(SUM(tf * idf_ppm) // SUM(tf) >= 2000000 AS INT)
        |         AS rare_flagged
        |       FROM rtf JOIN ridf USING (token) GROUP BY 1),
        |ld AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |       WHERE len(string_split(text, ' ')) >= 2),
        |lbig AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM ld,
        |  unnest(list_transform(range(1, len(l)),
        |    i -> struct_pack(w1 := l[CAST(i AS INT)], w2 := l[CAST(i AS INT) + 1]))) AS t(p)),
        |lbc AS (SELECT w1, w2, COUNT(*) AS c12 FROM lbig GROUP BY 1, 2),
        |lctx AS (SELECT w1, COUNT(*) AS c1 FROM lbig GROUP BY 1),
        |lsc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |          SUM((1000000 * c12) // c1) AS mass
        |        FROM lbig JOIN lbc USING (w1, w2) JOIN lctx USING (w1)
        |        GROUP BY 1),
        |lmf AS (SELECT docs.doc_id AS doc_id,
        |          CAST(COALESCE(lsc.mass // lsc.n_bigrams < 32000, FALSE) AS INT) AS lm_flagged
        |        FROM documents docs LEFT JOIN lsc ON docs.doc_id = lsc.doc_id),
        |cd AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
        |cpairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM cd a JOIN cd b ON a.doc_id <> b.doc_id
        |  WHERE 2 * len(list_intersect(a.t, b.t)) >=
        |        len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))),
        |creach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM cd
        |  UNION
        |  SELECT p.y, creach.lbl FROM creach JOIN cpairs p ON p.x = creach.node
        |  WHERE creach.lbl < p.y),
        |cl AS (SELECT node AS doc_id, CAST(node = MIN(lbl) AS INT) AS dedup_keep
        |       FROM creach GROUP BY node),
        |dd AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |dg AS (SELECT doc_id, list_distinct(CASE WHEN len(l) >= 8
        |        THEN list_transform(range(1, len(l) - 6), i ->
        |          l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' ||
        |          l[i+4] || ' ' || l[i+5] || ' ' || l[i+6] || ' ' || l[i+7])
        |        ELSE []::VARCHAR[] END) AS grams
        |      FROM dd),
        |dev AS (SELECT DISTINCT unnest(grams) AS gram FROM dg WHERE doc_id % 97 = 0),
        |dtr AS (SELECT doc_id, grams FROM dg WHERE doc_id % 97 <> 0),
        |dsh AS (SELECT doc_id, COUNT(*) AS n_shared
        |        FROM (SELECT doc_id, unnest(grams) AS gram FROM dtr) x
        |        JOIN dev USING (gram) GROUP BY doc_id),
        |dc AS (SELECT dtr.doc_id AS doc_id,
        |         CAST(COALESCE(dsh.n_shared, 0) > 0 AS INT) AS contaminated
        |       FROM dtr LEFT JOIN dsh ON dtr.doc_id = dsh.doc_id)
        |SELECT doc_id, q_keep, COALESCE(rep_flagged, 0) AS rep_flagged,
        |  rare_flagged, lm_flagged, dedup_keep, contaminated,
        |  CAST(q_keep = 1 AND COALESCE(rep_flagged, 0) = 0 AND rare_flagged = 0 AND
        |       lm_flagged = 0 AND dedup_keep = 1 AND contaminated = 0 AS INT) AS keep
        |FROM dc JOIN qg USING (doc_id) LEFT JOIN rp USING (doc_id)
        |  JOIN rr USING (doc_id) JOIN lmf USING (doc_id) JOIN cl USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "pii_stats" ->
      s"""WITH c AS (SELECT c_custkey, ${Pii.ContactCardSql} AS card FROM customer)
         |SELECT c_custkey,
         |  CAST(len(regexp_extract_all(card, '${Pii.EmailRe}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(card, '${Pii.PhoneRe}')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(card, '${Pii.Ipv4Re}')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(card, '${Pii.EmailRe}'))
         |       + len(regexp_extract_all(card, '${Pii.PhoneRe}'))
         |       + len(regexp_extract_all(card, '${Pii.Ipv4Re}')) > 0 AS INT) AS has_pii
         |FROM c ORDER BY c_custkey""".stripMargin,
    "pii_redact" ->
      s"""WITH c AS (SELECT c_custkey, ${Pii.ContactCardSql} AS card FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(regexp_replace(card,
         |    '${Pii.EmailRe}', '<EMAIL>', 'g'),
         |    '${Pii.PhoneRe}', '<PHONE>', 'g'),
         |    '${Pii.Ipv4Re}', '<IP>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(card, '${Pii.EmailRe}'))
         |       + len(regexp_extract_all(card, '${Pii.PhoneRe}'))
         |       + len(regexp_extract_all(card, '${Pii.Ipv4Re}')) AS BIGINT) AS n_redacted
         |FROM c ORDER BY c_custkey""".stripMargin,
    // gram identity is hash-based on the Spark side (ngram_hash_seq,
    // 64-bit — collisions negligible at corpus vocabulary sizes); the
    // oracle recomputes from the gram STRINGS, so a collision would
    // surface as a hash mismatch rather than hide
    "span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pg AS (
        |  SELECT doc_id, i AS pos,
        |    t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
        |  FROM toks, UNNEST(generate_series(0, len(t) - 3)) AS u(i)
        |),
        |dup AS (SELECT g FROM pg GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
        |hit AS (SELECT doc_id, pos,
        |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |        FROM pg JOIN dup USING (g))
        |SELECT doc_id,
        |  CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) - MIN(pos) + 3 AS BIGINT) AS span_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM hit GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    "span_trim" ->
      (s"""WITH ${spanTrimCte(3)},
        |pd AS (SELECT doc_id, SUM(e - s + 1) AS dup_tokens, COUNT(*) AS n_spans
        |       FROM sp GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |  round(CAST(len(string_split(d.text, ' ')) - COALESCE(pd.dup_tokens, 0) AS DOUBLE)
        |    / len(string_split(d.text, ' ')), 6) AS keep_ratio6
        |FROM documents d LEFT JOIN pd USING (doc_id)""").stripMargin,
    // the incremental store must be INDISTINGUISHABLE from the full
    // recompute: the oracle is span_trim's full-scan derivation verbatim
    // — a batch the store trimmed against stale gram state, a missed
    // within-batch duplicate, or a re-owned gram all flip the hash
    "span_trim_incremental" ->
      (s"""WITH ${spanTrimCte(3)},
        |pd AS (SELECT doc_id, SUM(e - s + 1) AS dup_tokens, COUNT(*) AS n_spans
        |       FROM sp GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |  round(CAST(len(string_split(d.text, ' ')) - COALESCE(pd.dup_tokens, 0) AS DOUBLE)
        |    / len(string_split(d.text, ' ')), 6) AS keep_ratio6
        |FROM documents d LEFT JOIN pd USING (doc_id)""").stripMargin,
    "span_trim_apply" ->
      (s"""WITH ${spanTrimCte(3)},
        |rem AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp),
        |tok AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS w
        |  FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
        |kept AS (
        |  SELECT tok.doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok.w, ' ' ORDER BY tok.pos) AS tt
        |  FROM tok LEFT JOIN rem ON rem.doc_id = tok.doc_id AND rem.pos = tok.pos
        |  WHERE rem.doc_id IS NULL GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
        |  md5(COALESCE(kept.tt, '')) AS clean_fp
        |FROM documents d LEFT JOIN kept USING (doc_id)""").stripMargin,
    "para_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |paras AS (
        |  -- DuckDB 1.0 binder rejects a nested function call inside a
        |  -- struct_pack named argument within a lambda: pack the raw
        |  -- slice, stringify one level up
        |  SELECT doc_id, p.ci AS ci, array_to_string(p.pl, ' ') AS para FROM d,
        |    unnest(list_transform(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT)),
        |      i -> struct_pack(ci := i,
        |        pl := list_slice(w, CAST(i * 16 + 1 AS INT), CAST(i * 16 + 16 AS INT))))) AS t(p)),
        |dup AS (SELECT md5(para) AS ph FROM paras
        |        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
        |j AS (SELECT paras.doc_id, ci, para, (dup.ph IS NOT NULL) AS isdup
        |      FROM paras LEFT JOIN dup ON md5(paras.para) = dup.ph)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
        |  CAST(SUM(CAST(isdup AS INT)) AS BIGINT) AS n_dup_paras,
        |  md5(COALESCE(string_agg(CASE WHEN NOT isdup THEN para END, ' ' ORDER BY ci), '')) AS clean_fp
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "profile_stats" ->
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s, CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*),
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
        |    CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*),
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        |    MIN(o_orderstatus), MAX(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*),
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*),
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
        |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*),
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        |    MIN(o_orderpriority), MAX(o_orderpriority)
        |  FROM orders
        |) ORDER BY column_name""".stripMargin,
    "outlier_stats" ->
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
        |st AS (SELECT event_type, COUNT(*) AS n, SUM(cents) AS s,
        |         SUM(cents * cents) AS q
        |       FROM e GROUP BY 1),
        |f AS (SELECT e.event_type, n, s,
        |        CAST((n * cents - s) * (n * cents - s) > 4 * (n * q - s * s) AS INT) AS flag
        |      FROM e JOIN st USING (event_type))
        |SELECT event_type, CAST(MIN(n) AS BIGINT) AS n,
        |  CAST(MIN(s) // MIN(n) AS BIGINT) AS mean_cents,
        |  CAST(SUM(flag) AS BIGINT) AS n_outliers,
        |  CAST((1000000 * SUM(flag)) // MIN(n) AS BIGINT) AS outlier_ppm
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "length_histogram" ->
      """WITH d AS (SELECT len(string_split(text, ' ')) AS n_tokens FROM documents),
        |h AS (SELECT CAST(n_tokens // 16 AS BIGINT) AS bucket, COUNT(*) AS n_docs FROM d GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total FROM d)
        |SELECT CAST(bucket * 16 AS BIGINT) AS bucket_lo, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST((1000000 * n_docs) // total AS BIGINT) AS share_ppm
        |FROM h, t ORDER BY bucket_lo""".stripMargin
  )
}
