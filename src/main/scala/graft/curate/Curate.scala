package graft.curate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize.MatOps
import graft.core.{Adaptive, Tables}
import graft.functions.GraftFunctions

/** Corpus-curation operators a large-scale training-data pipeline runs
  * after dedup: benchmark decontamination, deterministic stratified
  * sampling, token-budget shard packing, and domain-mixture weighting.
  * The reference's analysis bundle computes per-article corpus stats and
  * membership decisions (extraction.rs:748-773, snapshot.rs:259); these
  * are the corpus-level membership/layout decisions at 100 TB.
  */
object Curate {

  /** Documents whose id is divisible by this play the held-out
    * benchmark/eval set in `decontaminate` (a deterministic stand-in for
    * the eval-suite corpus a real pipeline loads separately).
    */
  private val EvalMod = 97

  /** Word-8-grams per shared shingle threshold used by decontamination
    * (the n-gram order most published decontamination setups use is
    * 8-13; the low end maximizes sensitivity).
    */
  private val ContamN = 8

  /** Benchmark decontamination: flag training documents sharing any
    * word-8-gram with the eval set (docs with doc_id % 97 == 0).
    *
    * Scale shape: an eval suite is fixed-size (MBs of benchmark text)
    * regardless of corpus size, so its distinct gram set BROADCASTS and
    * the training side is one scan + map-side semi-join + partial-agg
    * count — no shuffle of corpus text, no pairwise work. Grams are
    * hashed to 8-byte longs by the fused NgramHashSet expression (same
    * primitive as ngram_jaccard), so only narrow rows ride the explode.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // guarded spread of the training side: the gram-set construction is
    // CPU-bound per row and a small single-file scan would otherwise run
    // it in one task. The eval slice (1/97 of the docs) reads the scan
    // as is: its filter sits under a spread, so the two would not share
    // one exchange
    val docs = Tables.documents(spark, dir)
    decontaminateFrom(Adaptive.spreadScan(spark, docs, dir, "documents"), evalGrams(docs))
  }

  /** The per-doc hashed word-8-gram sets [[decontaminate]] is built
    * from.
    */
  private def gramSets(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        call_function("ngram_hash_set", split(col("text"), " "), lit(ContamN))
          .as("grams"))

  /** The FROZEN eval-suite gram set behind [[decontaminate]]: the
    * distinct hashed 8-grams of the held-out docs (doc_id % 97 == 0) —
    * fixed-size regardless of corpus scale, the persistable artifact an
    * incremental batch is gated against (see `Relevance.rarityModel`
    * for the frozen-model contract). Requires
    * `GraftFunctions.register` on the session.
    */
  def evalGrams(docs: DataFrame): DataFrame =
    gramSets(docs).filter(col("doc_id") % EvalMod === 0)
      .select(explode(col("grams")).as("gram")).distinct()

  /** [[decontaminate]] over an arbitrary `(doc_id, text)` frame against
    * a FROZEN eval gram set. Candidacy keeps the id-split convention:
    * docs with doc_id % 97 == 0 are benchmark material, not corpus
    * candidates, and stay OUT of the output — for an incremental batch
    * that means new eval-slice docs are excluded from decisions (their
    * grams join the eval set at the next full rebuild).
    */
  def decontaminateFrom(docs: DataFrame, ev: DataFrame): DataFrame = {
    // grams within a doc are distinct and ev is distinct, so the matched
    // rows per doc ARE the intersection size. One aggregate, no join
    // back: a doc's gram rows come from one input row, so the partial
    // aggregate folds them to one narrow row per doc before the shuffle,
    // and explode_outer keeps a gram-less doc as one unmatched row.
    gramSets(docs).filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode_outer(col("grams")).as("gram"))
      .join(broadcast(ev.withColumn("hit", lit(1L))), Seq("gram"), "left")
      .groupBy("doc_id", "n_grams").agg(coalesce(sum("hit"), lit(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared") > 0).cast("int").as("contaminated"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Cosine threshold above which a training vector counts as
    * semantically contaminated by an eval vector. Matches
    * `dedup_embedding`'s exact-pair threshold (the bulk regime on this
    * corpus — max cross cosine ≈ 0.51 — so the gate produces real
    * positives to verify; a production suite would set the
    * paraphrase-contamination point for its embedding model).
    */
  private val SemanticThreshold = 0.35

  /** SEMANTIC decontamination — the embedding-space complement of the
    * lexical 8-gram gate: a training document is flagged when its
    * embedding's cosine against ANY eval-suite embedding reaches the
    * threshold (paraphrased or translated benchmark leakage shares no
    * 8-gram but sits next to the eval item in embedding space — the
    * gap published decontamination protocols close with exactly this
    * check). Per training vector: how many eval vectors are close, the
    * max cosine, the closest eval id (ties to the lowest id), and the
    * flag.
    *
    * Scale shape: the eval suite is FIXED-SIZE regardless of corpus
    * (like the lexical gate's gram set), so it packs into ONE row of
    * (eval_id, embedding, norm) structs and broadcasts — the 1-row
    * cross join rewrites to a broadcast hash join
    * (SingleRowCrossToEquiJoin), and the scoring is a per-row
    * `transform` fold over the broadcast array: O(|eval|) dots per
    * training vector, embarrassingly parallel, ZERO shuffle — the
    * whole operator is scan-bound. Exact by construction (no LSH
    * recall question at a threshold banding provably cannot prune —
    * see dedupEmbedding's ρ analysis); if the eval suite ever grew
    * corpus-shaped, the bipartite LSH machinery (`dedupEmbeddingLsh`)
    * is the handoff. Cosines are computed in DOUBLE in element order
    * and rounded to 6 places, the same contract the cosine_topk oracle
    * hash-matches.
    */
  def semanticDecon(spark: SparkSession, dir: String,
      threshold: Double = SemanticThreshold): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    semanticDeconFrom(e.filter(col("vec_id") % EvalMod =!= 0),
      e.filter(col("vec_id") % EvalMod === 0), threshold)
  }

  /** [[semanticDecon]] over arbitrary training and eval frames — the
    * shared core the streaming gate (`Streams.semanticDeconGate`) runs
    * per micro-batch against the same fixed eval suite.
    */
  def semanticDeconFrom(train: DataFrame, evalVecs: DataFrame,
      threshold: Double = SemanticThreshold): DataFrame = {
    GraftFunctions.register(train.sparkSession)
    def withNorm(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("embedding"))
        .withColumn("norm", graft.sim.Vectors.norm64("embedding"))
    val evPack = withNorm(evalVecs)
      .agg(collect_list(struct(col("vec_id").as("eval_id"),
        col("embedding").as("emb"), col("norm").as("n"))).as("evs"))
      // an empty eval suite must FAIL, not mark the corpus clean — a
      // wrong path / over-filtered suite silently passing contaminated
      // data is the worst failure mode a decontamination gate has. The
      // guard is in-plan (no extra job): it trips when the pack row
      // materializes.
      .select(when(size(col("evs")) > 0, col("evs"))
        .otherwise(raise_error(lit(
          "semanticDeconFrom: eval frame is empty — refusing to mark the corpus clean")))
        .as("evs"))
    withNorm(train)
      .crossJoin(broadcast(evPack))
      .withColumn("scored", expr(
        """transform(evs, v -> struct(
          |  round(vec_dot(embedding, v.emb) / (norm * v.n), 6) AS cos6,
          |  v.eval_id AS eval_id))""".stripMargin))
      // argmax by struct ordering: max cos6, then lowest eval_id
      .withColumn("best", expr(
        "array_max(transform(scored, s -> struct(s.cos6 AS c, -s.eval_id AS ni)))"))
      .select(col("vec_id"),
        expr(s"CAST(size(filter(scored, s -> s.cos6 >= $threshold)) AS BIGINT)")
          .as("n_close"),
        col("best.c").as("max_cos6"),
        (-col("best.ni")).as("closest_eval"),
        expr(s"CAST(size(filter(scored, s -> s.cos6 >= $threshold)) > 0 AS INT)")
          .as("contaminated"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** COMBINED decontamination verdict — the gate a production corpus
    * applies before training: a document is dropped when EITHER the
    * lexical 8-gram overlap OR the embedding-space proximity flags it.
    * Published protocols run both checks because each catches leakage
    * the other cannot: verbatim benchmark snippets embedded in fresh
    * context trip the gram gate but may sit far from the eval item in
    * embedding space, while paraphrased/translated leakage shares no
    * 8-gram but sits next to it. Joins the two corpus-sized verdict
    * frames on the shared id space (doc_id ≡ vec_id in the corpus
    * layout) — ONE narrow key-to-key shuffle of verdict rows; document
    * text and embeddings never meet in the plan.
    */
  def deconCombined(spark: SparkSession, dir: String): DataFrame = {
    val lex = decontaminate(spark, dir)
      .select(col("doc_id"), col("n_shared"),
        col("contaminated").as("lex_flag"))
    val sem = semanticDecon(spark, dir)
      .select(col("vec_id").as("doc_id"), col("n_close"),
        col("max_cos6"), col("contaminated").as("sem_flag"))
    lex.join(sem, Seq("doc_id")) // inner: both sides cover every training id
      .select(col("doc_id"), col("n_shared"), col("lex_flag"),
        col("n_close"), col("max_cos6"), col("sem_flag"),
        (col("lex_flag") === 0 && col("sem_flag") === 0).cast("int").as("keep"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** The EVAL-side view of decontamination — the report a benchmark
    * owner reads: per eval document, how many training documents share
    * at least one word-8-gram with it and the total leaked (train-doc,
    * gram) matches. `decontaminate` answers "which training docs must
    * go"; this answers "which benchmark items are compromised and how
    * badly" — both halves of the published decontamination protocol.
    *
    * Scale shape: same as `decontaminate` — the eval gram set is
    * fixed-size and BROADCASTS (now carrying its eval doc_id), the
    * training side is one scan + map-side hash join + one partial-agg
    * shuffle keyed by eval_id (output bounded by the eval suite, not
    * the corpus). Corpus text never shuffles.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val g = Adaptive.spreadScan(spark, Tables.documents(spark, dir), dir, "documents")
      .select(col("doc_id"),
        call_function("ngram_hash_set", split(col("text"), " "), lit(ContamN))
          .as("grams"))
    val ev = g.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("grams"))
    val evg = ev.select(col("eval_id"), explode(col("grams")).as("gram"))
    val hits = g.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evg), "gram")
      .groupBy("eval_id")
      .agg(countDistinct(col("doc_id")).as("n_contaminating_docs"),
        count(lit(1)).as("n_shared_grams"))
    ev.select(col("eval_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_contaminating_docs"), lit(0L)).as("n_contaminating_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_contaminating_docs"), lit(0L)) > 0).cast("int")
          .as("compromised"))
      .orderBy("eval_id") // eval-suite-sized output: global sort is bounded
  }

  /** Deterministic stratified sample: the K lowest-hash documents per
    * language stratum, ranked by an md5-derived sampling key (stable
    * across engines and runs — reproducible samples are a pipeline
    * requirement, not a nicety).
    *
    * Scale shape: one shuffle on the stratum key; the rank-≤K filter
    * directly above the window lets Spark plan a WindowGroupLimit, which
    * drops rows past K per partition BEFORE the shuffle, so a 100 TB
    * corpus moves ~K rows per stratum per input partition, not the
    * corpus.
    */
  def sampleStratified(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("skey"))
    val w = Window.partitionBy(col("lang")).orderBy(col("skey"), col("doc_id"))
    d.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("lang", "rk")
  }

  /** Tokens per shard for `shardPack`. */
  private val ShardTokens = 20000L

  /** Token-budget shard packing: documents are laid out in doc_id order
    * and cut into shards of ~20k tokens — the training-shard writer's
    * assignment step (each shard = one output file of bounded size).
    *
    * A running token total over the whole corpus ordered by doc_id is
    * the textbook single-partition window trap, so this computes it as a
    * two-pass parallel prefix scan (the scheme `RDD.zipWithIndex` uses):
    * range-partition on doc_id, take each partition's token total, add
    * the driver-side exclusive prefix of those ≤ numShufflePartitions
    * totals to a running sum windowed per partition. Every window is
    * one range partition; no window spans the corpus.
    */
  def shardPack(spark: SparkSession, dir: String): DataFrame =
    shardPackDocs(Tables.documents(spark, dir))

  /** TOKENIZER-EXACT shard packing: [[shardPack]]'s prefix-sum shard
    * assignment with `TextOps.bpeApply`'s true per-doc token counts in
    * place of the whitespace proxy — the 20k-token shard budget then
    * bills exactly what the training loader will (the same swap
    * [[epochPlanBpe]] makes for the epoch budget; together they pin the
    * tokenizer-exact packing path end-to-end).
    *
    * Scale shape: `bpeApply` is a vocab-broadcast join (corpus text
    * never shuffles) and its count frame is a total doc spine, so the
    * packing input is the same (doc_id, n_tokens) shape as
    * [[shardPack]]'s — the parallel prefix scan is count-agnostic and
    * unchanged.
    */
  def shardPackBpe(spark: SparkSession, dir: String,
      merges: Int = 10): DataFrame =
    shardPackDocs(
      graft.text.TextOps.bpeApply(spark, dir, merges)
        .select(col("doc_id"), col("n_bpe_tokens")),
      nTokens = col("n_bpe_tokens"))

  /** Default token accounting for the packing operators: whitespace
    * tokens. Swap in `col("n_bpe_tokens")` from a `TextOps.bpeApply`
    * join (or any precomputed count column) to make the budgets
    * real-tokenizer-exact — the prefix scan is count-agnostic.
    */
  private def WsTokens: org.apache.spark.sql.Column =
    size(split(col("text"), " ")).cast("long")

  /** `shardPack` over an arbitrary documents frame (doc_id, text) —
    * pipelines call this after filtering the corpus down to survivors.
    * `nTokens` is the per-doc token accounting expression (see
    * `WsTokens`): pass a learned-tokenizer count column and the 20k
    * budget counts exactly what the training loader will.
    */
  def shardPackDocs(docs: DataFrame,
      nTokens: org.apache.spark.sql.Column = null): DataFrame = {
    val spark = docs.sparkSession
    // range partitions are ordered, non-overlapping doc_id ranges; the
    // pin fixes each row's pid for both readers below
    val ranged = docs
      .select(col("doc_id"),
        Option(nTokens).getOrElse(WsTokens).cast("long").as("n_tokens"))
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .materializeOnce()
    // exclusive prefix of the ≤ numShufflePartitions partition totals, on
    // the driver; as a local relation it has exact stats and broadcasts
    // without a job
    val totals = ranged.groupBy("pid")
      .agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val starts = totals.scanLeft(0L)(_ + _._2)
    val offsets = spark.createDataFrame(totals.map(_._1).zip(starts).toSeq)
      .toDF("pid", "poff")
    val w = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(offsets), "pid")
      .withColumn("start",
        col("poff") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("start"),
        expr(s"CAST(start DIV $ShardTokens AS BIGINT)").as("shard_id"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Intra-document repetition statistics — the Gopher-style repetition
    * filters (Rae et al. 2021 §A1.1): per doc, the token mass sitting in
    * repeated word-2-grams and the share of the single most frequent
    * 2-gram, both integer-exact ppm, plus the resulting keep/drop flag.
    * Boilerplate and looping-generation artifacts concentrate here long
    * before they show up in type-token ratios.
    *
    * Scale shape: grams are hashed to 8-byte longs in the projection, so
    * the per-(doc, gram) count shuffles narrow rows with map-side
    * partial aggregation; everything after is per-doc arithmetic.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionStatsDocs(Tables.documents(spark, dir))

  /** [[repetitionStats]] over an arbitrary `(doc_id, text)` frame —
    * per-doc and stateless, so batch scoring (the decision store's
    * incremental append) reuses it verbatim. Sub-2-token docs stay
    * absent (consumers left-join and coalesce flagged to 0).
    */
  def repetitionStatsDocs(docs: DataFrame): DataFrame = {
    // doc_id pre-partition (explicit count): hash(doc_id) satisfies the
    // (doc_id, gram) clustering, so BOTH aggregations below run in-stage
    // after one exchange of compact doc rows — the per-occurrence gram
    // stream never shuffles (fewer bytes at every scale), and the gram
    // explode+hash CPU leaves the (locally single-task) scan stage
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    val d = docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .repartition(np, col("doc_id"))
    val g = d.select(col("doc_id"),
      explode(expr(
        """transform(sequence(1, size(l) - 1),
          |  i -> xxhash64(concat_ws(' ', element_at(l, i), element_at(l, i + 1))))""".stripMargin))
        .as("gram"))
    g.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_2grams"),
        count(lit(1)).as("n_distinct_2grams"),
        max(col("cnt")).as("max_cnt"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).as("rep_toks"))
      .select(col("doc_id"),
        col("n_2grams"), col("n_distinct_2grams"),
        expr("CAST((1000000 * max_cnt) DIV n_2grams AS BIGINT)").as("top_ppm"),
        expr("CAST((1000000 * rep_toks) DIV n_2grams AS BIGINT)").as("rep_ppm"),
        expr("CAST((1000000 * rep_toks) DIV n_2grams >= 200000 AS INT)").as("flagged"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Domain-mixture table: per (lang, source) cell — doc count, token
    * count, corpus share, and the integer-exact resampling rate that
    * would flatten the mixture to uniform (rate capped at 1.0; ppm
    * arithmetic so the result is bit-stable across engines).
    *
    * Scale shape: one partial-agg pass over the corpus to cell level
    * (cells are dozens, not billions), then cell-level arithmetic
    * against the broadcast 1-row totals frame. The plain crossJoin
    * plans as a BroadcastHashJoin, not a nested loop, because the
    * graft optimizer rule rewrites 1-row cross joins with a
    * non-foldable derived key (plans.SingleRowCrossToEquiJoin — the
    * automated form of the manual pmod-key idiom the other operators
    * still spell out).
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // guarded spread: the tokenize-and-sum partial aggregation otherwise
    // runs at the scan's split count (see Adaptive); no-op at scale
    val cells = Adaptive.spreadScan(spark,
        Tables.documents(spark, dir), dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("cell_tokens"))
    val totals = cells.agg(
      sum(col("cell_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(totals))
      .withColumn("share_ppm", expr("CAST((1000000 * cell_tokens) DIV tot_tokens AS BIGINT)"))
      .withColumn("target_ppm", expr("CAST(1000000 DIV n_cells AS BIGINT)"))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("CAST((1000000 * target_ppm) DIV GREATEST(share_ppm, 1) AS BIGINT)")))
      .select(col("lang"), col("source"), col("n_docs"), col("cell_tokens"),
        col("share_ppm"), col("target_ppm"), col("rate_ppm"))
      .orderBy("lang", "source")
  }

  /** Temperature-flattened domain mixture (α = 1/2) — the standard
    * multilingual/multi-domain rebalancing next to `domainMix`'s
    * flatten-to-uniform: mixture weight ∝ share^α, which upweights
    * tail domains without letting the head dominate (α=1 keeps the
    * natural mix, α=0 is uniform; 1/2 is the published middle ground).
    *
    * INTEGER-EXACT on purpose: weight ∝ isqrt(share_ppm), where isqrt
    * is FLOOR(SQRT(x)) over x ≤ 1e6 — IEEE sqrt is correctly rounded
    * and the nearest integer boundary is ~1/(2√x) ≥ 5e-4 away, nine
    * orders above double ulp, so the floor is bit-stable across
    * engines (a pow(x, 0.3)-style α would NOT be: pow is not required
    * correctly rounded and libm results differ in the last ulp — the
    * hash gate would flip). Normalization and rates stay in ppm DIV
    * arithmetic like every mixing operator here.
    *
    * Scale shape: identical to `domainMix` — one partial-agg corpus
    * pass to the cell level (pinned: both the Σw aggregate and the
    * final projection read it), then arithmetic against two broadcast
    * 1-row totals frames (each crossJoin rewritten to a
    * BroadcastHashJoin by plans.SingleRowCrossToEquiJoin).
    */
  def domainMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    domainMixTemperatureFromCells(Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("cell_tokens")))
  }

  /** [[domainMixTemperature]]'s arithmetic over a precomputed
    * `(lang, source, n_docs, cell_tokens)` cell frame — the token
    * accounting is a parameter, so the SAME mixture math runs over
    * whitespace counts (the default) or true tokenizer counts
    * ([[epochPlanBpe]] threads `bpe_apply`'s through).
    */
  def domainMixTemperatureFromCells(cellsRaw: DataFrame): DataFrame = {
    val cells = cellsRaw
      .materializeOnce() // one corpus pass feeds Σw AND the projection
    val totals = cells.agg(sum(col("cell_tokens")).as("tot_tokens"))
    val s = cells.crossJoin(broadcast(totals))
      .withColumn("share_ppm",
        expr("CAST((1000000 * cell_tokens) DIV tot_tokens AS BIGINT)"))
      .withColumn("temp_w",
        expr("CAST(FLOOR(SQRT(CAST(share_ppm AS DOUBLE))) AS BIGINT)"))
    val ws = s.agg(sum(col("temp_w")).as("sum_w"))
    s.crossJoin(broadcast(ws))
      .withColumn("weight_ppm",
        expr("CAST((1000000 * temp_w) DIV sum_w AS BIGINT)"))
      .withColumn("rate_ppm", least(lit(1000000L),
        expr("CAST((1000000 * weight_ppm) DIV GREATEST(share_ppm, 1) AS BIGINT)")))
      .select(col("lang"), col("source"), col("n_docs"), col("cell_tokens"),
        col("share_ppm"), col("temp_w"), col("weight_ppm"), col("rate_ppm"))
      .orderBy("lang", "source")
  }

  /** Data-recipe EPOCH PLAN — the table that turns a mixture into a
    * training run: given the temperature-flattened weights
    * ([[domainMixTemperature]]) and a token budget (a multiple of the
    * corpus), per (lang, source) cell: the budgeted token allocation,
    * the implied epoch count over that cell (ppm — 1e6 = exactly one
    * pass; >1e6 means repeats), the capped epochs (published recipes
    * bound repetition — ~4 epochs before degradation), and the tokens
    * actually achievable under the cap. This is the artifact a
    * pretraining run is configured from.
    *
    * All arithmetic is integer-exact ppm DIV like every mixing
    * operator here. Products that could overflow BIGINT at 100 TB
    * corpus sizes (budget, allocation) use the split form
    * `(a DIV 1e6)·m + ((a % 1e6)·m) DIV 1e6` — exact to within the
    * same floor semantics on both engines and safe for any corpus; the
    * one remaining envelope is `(planned % cell)·1e6` in the epoch
    * ratio, safe while a single CELL holds ≤ 9.2e12 tokens (≈37 TB of
    * text in one domain — past that, promote to DECIMAL(38,0) the way
    * `outlier_stats` did).
    *
    * Scale shape: one corpus pass to the cell level (inherited from
    * `domainMixTemperature`), then pure arithmetic against broadcast
    * 1-row totals — output is mixture-table-sized.
    */
  def epochPlan(spark: SparkSession, dir: String,
      budgetMultPpm: Long = 2000000L,
      maxEpochsPpm: Long = 4000000L): DataFrame =
    epochPlanFrom(domainMixTemperature(spark, dir), budgetMultPpm, maxEpochsPpm)

  /** TOKENIZER-EXACT epoch plan: the same budget/epoch arithmetic as
    * [[epochPlan]], but every token count is `bpe_apply`'s true
    * tokenizer count instead of the whitespace proxy — the counts a
    * trainer's data loader actually bills against the budget.
    * Whitespace proxies skew the mixture wherever tokenization density
    * differs by domain (code vs prose, agglutinative vs analytic
    * languages), and this is the table a pretraining run is configured
    * from — the proxy error lands directly in the recipe.
    *
    * Scale shape: `bpeApply`'s per-doc counts (vocab-broadcast join,
    * corpus text never shuffles) roll up to the SAME cell level in the
    * same partial-agg pass; everything after is mixture-table-sized
    * arithmetic against broadcast totals, identical to `epochPlan`.
    */
  def epochPlanBpe(spark: SparkSession, dir: String,
      merges: Int = 10,
      budgetMultPpm: Long = 2000000L,
      maxEpochsPpm: Long = 4000000L): DataFrame = {
    val counts = graft.text.TextOps.bpeApply(spark, dir, merges)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val cells = Tables.documents(spark, dir).select("doc_id", "lang", "source")
      .join(counts, "doc_id") // counts frame is a total doc spine
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("cell_tokens"))
    epochPlanFrom(domainMixTemperatureFromCells(cells),
      budgetMultPpm, maxEpochsPpm)
  }

  /** [[epochPlan]]'s budget/epoch arithmetic over any
    * [[domainMixTemperatureFromCells]] mixture output.
    */
  def epochPlanFrom(mixture: DataFrame,
      budgetMultPpm: Long,
      maxEpochsPpm: Long): DataFrame = {
    require(budgetMultPpm >= 1 && maxEpochsPpm >= 1,
      s"epochPlan: budgetMultPpm/maxEpochsPpm must be positive")
    val mix = mixture
      .select("lang", "source", "cell_tokens", "weight_ppm")
    val totals = mix.agg(sum(col("cell_tokens")).as("tot_tokens"))
    mix.crossJoin(broadcast(totals)) // 1-row totals: rewrites to BHJ
      .withColumn("budget_tokens", expr(
        s"CAST(tot_tokens DIV 1000000 * $budgetMultPpm + " +
          s"(tot_tokens % 1000000) * $budgetMultPpm DIV 1000000 AS BIGINT)"))
      .withColumn("planned_tokens", expr(
        "CAST(budget_tokens DIV 1000000 * weight_ppm + " +
          "(budget_tokens % 1000000) * weight_ppm DIV 1000000 AS BIGINT)"))
      .withColumn("epochs_ppm", expr(
        "CAST(planned_tokens DIV cell_tokens * 1000000 + " +
          "(planned_tokens % cell_tokens) * 1000000 DIV cell_tokens AS BIGINT)"))
      .withColumn("epochs_capped_ppm", least(col("epochs_ppm"), lit(maxEpochsPpm)))
      .withColumn("alloc_tokens", expr(
        "CAST(cell_tokens DIV 1000000 * epochs_capped_ppm + " +
          "(cell_tokens % 1000000) * epochs_capped_ppm DIV 1000000 AS BIGINT)"))
      .select(col("lang"), col("source"), col("cell_tokens"),
        col("weight_ppm"), col("budget_tokens"), col("planned_tokens"),
        col("epochs_ppm"), col("epochs_capped_ppm"), col("alloc_tokens"))
      .orderBy("lang", "source") // mixture-table-sized output: bounded sort
  }

  /** DSIR-style importance weighting: score each document by how much
    * its unigram distribution resembles a TARGET domain relative to the
    * source corpus — the data-selection signal behind importance
    * resampling (select pretraining data whose n-gram statistics match
    * the downstream/eval domain). The target is the same deterministic
    * held-out slice `decontaminate` uses (doc_id % 97); a real pipeline
    * substitutes its target corpus via `importanceWeightsFor`.
    *
    * Per token, the importance ratio is the target/source relative
    * frequency ratio in ppm, integer-exact and log-free:
    * `(1e6 * tgt_cnt * s_total) DIV (src_cnt * t_total)` (1e6 = the
    * token is exactly as common in target as in source; 0 = absent from
    * target). A document's weight is the mean ratio over its token
    * stream (repeats included), and `flagged` marks docs at or above
    * parity (1e6) — the ones importance resampling keeps with
    * probability ∝ weight. The BIGINT product bounds exactness to
    * `tgt_cnt * s_total < 9.2e12`; past that (trillion-token corpora)
    * the same formula runs in DECIMAL(38,0) at ~2× cost.
    *
    * Scale shape: identical to `rarityScore` — vocab-sized count
    * frames, a 1-row totals broadcast (SingleRowCrossToEquiJoin), one
    * token-keyed shuffle join whose build side is the vocabulary, one
    * per-doc partial agg. The corpus text never shuffles.
    */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame =
    importanceWeightsFor(Tables.documents(spark, dir),
      Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(EvalMod)) === 0))

  /** Tokens per packed training sequence for `seqPack` (a GPT-style
    * context length).
    */
  private val SeqTokens = 2048L

  /** GPT-style sequence-packing manifest: conceptually concatenate the
    * corpus token stream in doc_id order and cut it every `seqTokens`
    * tokens; emit, per document, the global token offset and the span of
    * training sequences it lands in. Unlike `shardPack` (whole-doc
    * assignment to output files), documents here SPAN cut boundaries —
    * first_seq/last_seq/n_seqs is exactly what a training-batch loader
    * needs to locate every document's tokens, and `n_seqs > 1` rows
    * quantify cross-boundary fragmentation. Same parallel prefix scan as
    * `shardPack` (no corpus-sized window anywhere); the
    * derived columns are one codegen'd projection.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame =
    seqPackDocs(Tables.documents(spark, dir))

  /** `seqPack` over an arbitrary documents frame. `nTokens` as in
    * `shardPackDocs` — a `bpeApply` count column makes the 2048-token
    * sequence cuts tokenizer-exact.
    */
  def seqPackDocs(docs: DataFrame, seqTokens: Long = SeqTokens,
      nTokens: org.apache.spark.sql.Column = null): DataFrame = {
    require(seqTokens >= 1, s"seqPackDocs needs seqTokens >= 1, got $seqTokens")
    // shardPackDocs carries the global running-total machinery; its
    // start column is budget-independent (shard_id is just dropped here)
    shardPackDocs(docs, nTokens = nTokens)
      .select(col("doc_id"), col("n_tokens"), col("start"),
        expr(s"CAST(start DIV $seqTokens AS BIGINT)").as("first_seq"),
        expr(s"CAST((start + n_tokens - 1) DIV $seqTokens AS BIGINT)").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1L)
  }

  /** DSIR importance RESAMPLING — the selection step `importanceWeights`
    * scores for: keep each document with probability proportional to its
    * weight (capped at 1), decided DETERMINISTICALLY by comparing the
    * md5-derived per-doc uniform hash (the same reproducible-sampling
    * recipe `sampleStratified` uses) against the weight — so the sample
    * is identical across engines, runs, and partitionings, and a
    * pipeline can re-derive membership without storing it. Scan-bound
    * projection over the weights frame; no extra shuffle.
    */
  def importanceSample(spark: SparkSession, dir: String): DataFrame =
    importanceSampleOf(importanceWeights(spark, dir))

  /** `importanceSample` over a precomputed `(doc_id, weight_ppm, ...)`
    * weights frame.
    */
  def importanceSampleOf(weights: DataFrame): DataFrame =
    weights
      .withColumn("skey",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(1000000L)))
      .withColumn("kept",
        (col("skey") < least(col("weight_ppm"), lit(1000000L))).cast("int"))
      .select(col("doc_id"), col("weight_ppm"), col("skey"), col("kept"))

  /** `importanceWeights` with an explicit target corpus frame. */
  def importanceWeightsFor(docs: DataFrame, target: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tokT = target.select(explode(split(col("text"), " ")).as("token"))
    val src = tok.groupBy("token").agg(count(lit(1)).as("src_cnt"))
    val tgt = tokT.groupBy("token").agg(count(lit(1)).as("tgt_cnt"))
    // an EMPTY target must yield weight 0 for every doc (nothing
    // resembles an empty domain), not NULL-poisoned columns: t_total's
    // SUM over zero rows is NULL, and NULL in the divisor would ripple
    // into weight_ppm/flagged (and a NULL `kept` out of
    // importanceSampleOf). Coalescing to 1 is exact — every tgt_cnt is
    // also absent (0), so ratios are 0 DIV anything = 0.
    val totals = src.agg(sum(col("src_cnt")).as("s_total"))
      .crossJoin(broadcast(
        tgt.agg(coalesce(sum(col("tgt_cnt")), lit(1L)).as("t_total"))))
    val ratios = src.join(tgt, Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col("token"), expr(
        """CAST((1000000 * COALESCE(tgt_cnt, 0) * s_total)
          |  DIV (src_cnt * t_total) AS BIGINT)""".stripMargin).as("ratio_ppm"))
    tok.join(ratios, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("ratio_ppm")).as("mass"))
      .select(col("doc_id"), col("n_tokens"),
        expr("CAST(mass DIV n_tokens AS BIGINT)").as("weight_ppm"),
        expr("CAST(mass DIV n_tokens >= 1000000 AS INT)").as("flagged"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive
  }
}
