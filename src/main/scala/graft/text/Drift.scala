package graft.text

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{IndexScratch, Tables}

/** FROZEN-MODEL DRIFT gauge — the retrain trigger for every store that
  * scores new crawls against frozen models (the BPE tokenizer, the
  * decision store's rarity/LM tables): freezing keeps token budgets
  * and gate thresholds meaning the same thing across crawls, but
  * nothing so far MEASURED when the frozen model stops fitting the
  * corpus. Reference analogue: the sync loop's changed-article
  * classes (sync_service.rs) applied to the model artifacts
  * themselves.
  *
  * Persisted under the `bpedrift` scratch (one build per corpus
  * fingerprint):
  *  - `wordstats/`: the frozen reference vocabulary `(w, n_sym, cnt)` —
  *    post-merge BPE symbol count and build-corpus frequency per
  *    distinct word (Zipf-bounded, never corpus-sized).
  *  - `langbase/`: the COMMITTED per-language baseline counts of the
  *    build corpus under its own model — what "no drift" looks like.
  *  - `meta/`: the doc_id split point (the monotone-id crawl boundary,
  *    as in [[graft.dedup.SpanIndexStore]]).
  *
  * Per language of the NEW batch, all integer-exact (ppm ratios via
  * integer DIV — bit-identical cross-engine):
  *  - `oov_ppm`: share of batch tokens absent from the frozen
  *    vocabulary (an OOV word costs its character count in symbols —
  *    the honest byte-fallback a frozen tokenizer actually pays);
  *  - `fert_ppm` vs `fert_base_ppm`: tokenizer fertility under the
  *    frozen merges, batch vs build;
  *  - `rare_ppm` vs `rare_base_ppm`: share of tokens whose word was a
  *    hapax/dis legomenon (cnt ≤ 2) in the build corpus — the
  *    rarity-mass shift that silently degrades idf-frozen scoring.
  *  - `drift_flag`: 1 when any threshold trips (OOV > 5%, fertility
  *    moved > 10% relative, rare mass moved > 2.5 points, or the
  *    language has no committed baseline at all) — the bit an operator
  *    alerts on.
  *
  * Scale shape: one batch-only token scan joined against the broadcast
  * (Zipf-bounded) vocabulary, one language-sized rollup, one join to
  * the language-sized committed baseline. Nothing rescans the build
  * corpus at query time.
  */
object Drift {

  private val Merges = 10
  /** rare = build-corpus frequency ≤ RareCeil (hapax/dis legomena). */
  private val RareCeil = 2L

  /** Per-language counts of a document frame under a frozen
    * `(w, n_sym, cnt)` vocabulary: total tokens, OOV tokens, symbol
    * mass (character-count fallback for OOV), rare-word token mass.
    */
  private def langStats(docs: DataFrame, wordstats: DataFrame): DataFrame =
    docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(wordstats), Seq("w"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n_sym").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("n_sym"), length(col("w")).cast("long"))).as("n_bpe"),
        sum(when(col("cnt").isNotNull && col("cnt") <= RareCeil, 1L)
          .otherwise(0L)).as("n_rare"))

  /** Train the frozen reference model on `buildDocs` and commit its
    * own-corpus baseline next to it.
    */
  def buildDriftModel(buildDocs: DataFrame, basePath: String): Unit = {
    import graft.core.Materialize.MatOps
    val d = buildDocs.select("doc_id", "lang", "text").materializeOnce()
    val (words, _) = TextOps.bpeTrainDocs(d, Merges)
    words.select(col("w"), size(col("syms")).cast("long").as("n_sym"),
        col("cnt").cast("long").as("cnt"))
      .write.mode(SaveMode.Overwrite).parquet(s"$basePath/wordstats")
    val ws = d.sparkSession.read.parquet(s"$basePath/wordstats")
    langStats(d, ws)
      .write.mode(SaveMode.Overwrite).parquet(s"$basePath/langbase")
  }

  /** The drift report of `batch` against the persisted model at
    * `basePath` — see the object doc for the columns.
    */
  def driftReport(batch: DataFrame, basePath: String): DataFrame = {
    val spark = batch.sparkSession
    val ws = spark.read.parquet(s"$basePath/wordstats")
    val base = spark.read.parquet(s"$basePath/langbase")
      .select(col("lang"),
        expr("CAST((1000000 * n_bpe) DIV n_words AS BIGINT)").as("fert_base_ppm"),
        expr("CAST((1000000 * n_rare) DIV n_words AS BIGINT)").as("rare_base_ppm"))
    langStats(batch, ws)
      .join(broadcast(base), Seq("lang"), "left")
      .select(col("lang"), col("n_words"),
        expr("CAST((1000000 * n_oov) DIV n_words AS BIGINT)").as("oov_ppm"),
        expr("CAST((1000000 * n_bpe) DIV n_words AS BIGINT)").as("fert_ppm"),
        // -1 = no committed baseline for this language (itself drift)
        coalesce(col("fert_base_ppm"), lit(-1L)).as("fert_base_ppm"),
        expr("CAST((1000000 * n_rare) DIV n_words AS BIGINT)").as("rare_ppm"),
        coalesce(col("rare_base_ppm"), lit(-1L)).as("rare_base_ppm"))
      .withColumn("drift_flag",
        when(col("fert_base_ppm") < 0, 1)
          .when(col("oov_ppm") > 50000, 1)
          .when(abs(col("fert_ppm") - col("fert_base_ppm")) * 10 >
            col("fert_base_ppm"), 1)
          .when(abs(col("rare_ppm") - col("rare_base_ppm")) > 25000, 1)
          .otherwise(0))
      .orderBy("lang") // language-space-sized output: bounded sort
  }

  /** Build-if-missing of the drift verification artifact: the older
    * four-fifths of the corpus (by doc_id) is the model's build corpus,
    * the newest fifth plays the new crawl.
    */
  def ensureDriftModel(spark: SparkSession, dir: String): String = {
    val base = IndexScratch.scratchBase(dir, "bpedrift")
    IndexScratch.ensureBuilt(base,
      IndexScratch.sourceFingerprint(spark, s"$dir/documents.parquet")) {
      val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
      val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val t = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) * 4 / 5
      buildDriftModel(docs.filter(col("doc_id") <= t), base)
      IndexScratch.writeMeta(spark, base, "split_doc" -> t)
    }
    base
  }

  /** Query entry: the new-crawl drift report under the committed
    * frozen model. The DuckDB oracle recomputes BOTH sides — the
    * committed baseline and the batch metrics — from the corpus plus
    * the persisted frozen vocabulary, so a stale or mis-commited
    * baseline flips the hash too.
    */
  def modelDriftStats(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureDriftModel(spark, dir)
    val t = IndexScratch.metaLong(spark, base)
    driftReport(Tables.documents(spark, dir)
      .select("doc_id", "lang", "text").filter(col("doc_id") > t), base)
  }
}
