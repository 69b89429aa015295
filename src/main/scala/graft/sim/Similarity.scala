package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize.MatOps
import graft.core.Tables
import graft.sim.Vectors.{dot64, norm64, withBandBuckets, withProbeBuckets}

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * `cosineTopK` is the verified brute-force baseline; `annLsh` is the
  * scale path — multi-band random-hyperplane LSH (16 bands × 4 planes,
  * OR'd) buckets the corpus so the per-query candidate set shrinks,
  * with recall ≥ 1-(1-p^4)^16 per neighbour (pinned against the
  * brute-force baseline in SimilaritySpec). Scoring arithmetic is
  * unrolled into codegen'd expressions (Vectors.dot64) — no lambda
  * interpretation on the candidate hot path.
  */
object Similarity {

  private val Queries = 20  // query side: vec_id < 20

  /** Brute-force cosine top-5 neighbours for each query vector
    * (vec_id < 20). The small query side broadcasts; ranking is a window
    * partitioned per query — a per-partition top-k merge at scale.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    cosineTopKFrom(emb, emb.filter(col("vec_id") < Queries))
  }

  /** `cosineTopK` over arbitrary corpus and query frames — the exact
    * baseline the approximate paths are recall-pinned against, with the
    * same query-side parameterization (`excludeSelf` as in
    * `annLshFrom`).
    */
  def cosineTopKFrom(emb: DataFrame, queries: DataFrame,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select("vec_id", "embedding").withColumn("norm", norm64("embedding"))
    val q = queries.select("vec_id", "embedding").withColumn("norm", norm64("embedding"))
    val selfGuard =
      if (excludeSelf) col("a.vec_id") =!= col("b.vec_id") else lit(true)
    val scored = broadcast(q).as("a")
      .join(e.as("b"), selfGuard)
      .select(
        col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        Vectors.cos6(col("a.embedding"), col("b.embedding"),
          col("a.norm"), col("b.norm")).as("cos6"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("n_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("q_id", "rk")
  }

  /** k-NN label classification — the canonical APPLICATION of the
    * similarity search surface: each query vector (the `cosineTopK`
    * query set) takes the majority label of its exact top-5 neighbours
    * (ties to the lowest label id), reported against its own label.
    * This is the eval loop an embedding-pipeline owner runs after every
    * re-embed — "did the new encoder keep the label structure?" — so it
    * belongs next to the search operators it exercises.
    *
    * Scale shape: everything downstream of the top-k is bounded by
    * |queries|·k rows — the label join broadcasts nothing new (labels
    * ride the corpus frame the top-k already scanned), the vote count
    * and arg-max group on the tiny result. Swapping `cosineTopK` for an
    * ANN path (`annIvfPqFromIndex` at scale) changes recall, not shape.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select("vec_id", "label")
    val votes = cosineTopK(spark, dir)
      .join(labels.withColumnRenamed("vec_id", "n_id"), "n_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
    // arg-max as struct-max of (votes, -label): unordered aggregate,
    // deterministic lowest-label tie-break
    val pred = votes.groupBy("q_id")
      .agg(max(struct(col("votes"), (-col("label")).cast("long").as("nl"))).as("b"))
      .select(col("q_id"), (-col("b.nl")).cast("int").as("pred_label"),
        col("b.votes").as("n_votes"))
    pred
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("true_label")),
        "q_id")
      .select(col("q_id"), col("pred_label"), col("n_votes"),
        col("true_label"),
        (col("pred_label") === col("true_label")).cast("int").as("correct"))
      .orderBy("q_id")
  }

  /** Multi-band hyperplane LSH ANN: a query's candidates are the vectors
    * sharing ANY of its 16 band buckets (4 planes each). The QUERY side
    * multi-probes — its own bucket plus every 1-bit sign flip per band
    * (Vectors.withProbeBuckets) — so recall rises without growing the
    * corpus index. Candidate generation joins only narrow
    * (vec_id, bucket) rows; embeddings are joined back once per distinct
    * candidate pair for exact scoring. Rows-only check: recall is
    * approximate by construction (the SimilaritySpec floor keeps
    * parameter regressions from shipping).
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    annLshFrom(emb, emb.filter(col("vec_id") < Queries))
  }

  /** `annLsh` over an arbitrary corpus frame with the default query
    * slice — pipelines call this after gating the corpus
    * (Pipeline.indexEmbeddings).
    */
  def annLshFrom(emb: DataFrame): DataFrame =
    annLshFrom(emb, emb.filter(col("vec_id") < Queries))

  /** `annLsh` over arbitrary corpus AND query `(vec_id, embedding)`
    * frames — the index answers whatever query set the caller brings
    * (the corpus-side index never depends on it). The query side is
    * assumed small relative to the corpus (it broadcasts twice: probe
    * keys and exact re-score vectors); for corpus-sized query sets run
    * the bucketed equi-join without the broadcasts.
    *
    * `excludeSelf` (default true) drops the corpus vector whose vec_id
    * EQUALS the query's — right when queries are drawn from the corpus
    * id space (the default slice, pipeline re-query). Pass false for
    * EXTERNAL query frames whose ids are unrelated to corpus ids, or a
    * corpus vector that merely shares an id number would silently
    * vanish from that query's neighbours.
    */
  def annLshFrom(emb: DataFrame, queries: DataFrame,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.withColumn("norm", norm64("embedding"))
    val q = queries.select("vec_id", "embedding").withColumn("norm", norm64("embedding"))
    val banded = withBandBuckets(e.select("vec_id", "embedding"), bands = 16, rows = 4)
      .select(col("vec_id"), explode(col("bucket_arr")).as("bucket"))
    val qb = withProbeBuckets(q.select("vec_id", "embedding"), bands = 16, rows = 4)
      .select(col("vec_id"), explode(col("bucket_arr")).as("bucket"))
    val selfGuard =
      if (excludeSelf) col("a.vec_id") =!= col("b.vec_id") else lit(true)
    val cands = broadcast(qb).as("a")
      .join(banded.as("b"), col("a.bucket") === col("b.bucket") && selfGuard)
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"))
      .distinct()
    exactTop5(cands, q, e)
  }

  /** IVF (inverted-file) ANN — the other production scale path next to
    * hyperplane LSH: k-means-style coarse quantization (deterministic
    * seeds, two Lloyd rounds, all as DataFrame aggregations — no driver
    * collection of vectors), an inverted index vector → nearest
    * centroid, and query-time probing of the `nProbe` nearest lists
    * with exact re-scoring. At 100 TB the index side is a narrow
    * (vec_id, cid) frame co-partitioned by cid and the centroid table
    * broadcasts everywhere; per-query work is |probed lists|, not |corpus|.
    * Rows-only check (recall is approximate by construction;
    * SimilaritySpec pins the floor against brute force).
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    annIvfFrom(emb, emb.filter(col("vec_id") < Queries))
  }

  /** Broadcast fan-out of the tiny centroid table against every base
    * row, with the base↔centroid cosine attached. A single derived-key
    * broadcast join = BroadcastHashJoin (a raw cross join would plan a
    * BroadcastNestedLoopJoin, which the plan audit bans; a
    * `lit(1) === lit(1)` condition would constant-fold to `true` and
    * degrade the same way).
    */
  private def crossCentroids(base: DataFrame, cents: DataFrame): DataFrame =
    base.withColumn("one", pmod(col("vec_id"), lit(1)).cast("int"))
      .join(broadcast(cents.withColumn("one", pmod(col("cid"), lit(1)).cast("int"))),
        "one")
      .withColumn("ccos",
        dot64("embedding", "cvec") / (col("norm") * col("cnorm")))

  /** Coarse-quantizer training (k-means-style, two Lloyd rounds, all
    * DataFrame aggregations) — shared by `annIvfFrom` and the IVF-PQ
    * path. Returns the CHECKPOINTED centroid table (cid, cvec, cnorm):
    * every consumer branch reads the materialized copy, or the whole
    * training subtree would re-execute per branch.
    *
    * Seeds are the k LOWEST vec_ids of the corpus frame — id-space
    * independent (a gated pipeline corpus starting at id 1000 seeds
    * fine; `vec_id < k` would silently seed nothing) — re-coded to
    * dense cids via the constant-size window-after-limit pattern.
    *
    * Training is DETERMINISTIC and oracle-replayable end to end: the
    * centroid mean accumulates micro-unit BIGINT quantizations of the
    * member vectors (`floor(x·1e6)`, the embed_centroid_stats idiom)
    * through the exact `vec_sum_long` aggregate — integer addition is
    * order-independent, so the result no longer depends on partition
    * fold order the way the former float `vec_sum` mean did — and the
    * new centroid is `floor(sum/cnt)/1e6` cast back to float, a pure
    * per-cell IEEE expression both engines compute identically. The
    * per-row assignment argmax was always deterministic (dot64's fixed
    * element-order fold); the mean was the one order-dependent stage.
    * Net effect: `ann_ivf`/`ann_ivf_pq`/`dedup_embedding_ann` sit under
    * the DuckDB hash gate, whose oracle unrolls these two rounds in SQL
    * (the bpe_learn precedent). Quantization costs < 1e-6 per
    * component per round; the recall floors are unchanged.
    */
  private[graft] def ivfCentroids(e: DataFrame, k: Int, eager: Boolean = true): DataFrame = {
    def assign(cents: DataFrame): DataFrame =
      crossCentroids(e, cents)
        .groupBy("vec_id")
        // struct max: highest cosine, ties to the highest cid — deterministic
        .agg(max(struct(col("ccos"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"))
    // micro-unit quantization of the member vectors, computed once per
    // corpus row — the exact-integer accumulation feed for both rounds.
    // The explicit-count repartition REPLACES the membership join's own
    // exchange on this side (same key, same count — no added shuffle)
    // and, being user-specified, keeps AQE from byte-coalescing the
    // co-partitioned join down to ONE task: the per-round centroid
    // accumulation (vec_sum_long over 64-long buffers) was measured
    // 2.3-2.9 CPU-s single-task at sf1 inside ann_ivf_pq/ann_ivf.
    val np = e.sparkSession.sessionState.conf.numShufflePartitions
    val eq = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))")
        .as("qe"))
      .repartition(np, col("vec_id"))
    val seedW = Window.partitionBy(pmod(col("vec_id"), lit(1))).orderBy(col("vec_id"))
    var centroids = e.orderBy("vec_id").limit(k)
      .withColumn("cid", (row_number().over(seedW) - 1).cast("int"))
      .select(col("cid"), col("embedding").as("cvec"), col("norm").as("cnorm"))
    for (_ <- 1 to 2) {
      val memb = assign(centroids).join(eq, "vec_id")
      // centroid mean via the native vec_sum_long aggregate: ONE
      // partial-agg shuffle of k × dim long buffers (the posexplode →
      // per-(cid, pos) shape would shuffle |corpus| × dim rows), exact
      // by integer arithmetic
      centroids = memb
        .groupBy("cid")
        .agg(call_function("vec_sum_long", col("qe")).as("sv"),
          count(lit(1)).as("cnt"))
        .select(col("cid"),
          expr("transform(sv, x -> CAST(FLOOR(CAST(x AS DOUBLE) / cnt) / 1000000.0D AS FLOAT))")
            .as("cvec"))
        .withColumn("cnorm", norm64("cvec"))
      // no per-round checkpoint: two Lloyd rounds of lineage stay shallow
    }
    centroids.materializeOnce(eager)
  }

  /** Inverted-list index over trained centroids with top-2
    * MULTI-ASSIGNMENT: each vector joins its top-2 lists, not just its
    * nearest — the classic fix for boundary vectors whose true
    * neighbours sit across a Voronoi edge (recall 0.82-0.92 single-
    * assigned → 0.92-0.96 measured). Index rows double, but they stay
    * narrow (vec_id, cid) pairs — an explicit space-for-recall trade
    * that leaves per-query probe cost unchanged.
    */
  private[sim] def ivfInvertedIndex(e: DataFrame, centroids: DataFrame): DataFrame =
    ivfMultiIndex(e, centroids, assign = 2)

  /** [[ivfInvertedIndex]] with the assignment count as a knob: each
    * vector joins its top-`assign` centroid lists. The ANN query paths
    * stay at 2; the cluster-blocked embedding-dedup candidate generator
    * uses 3, where the extra membership buys pair recall (a qualifying
    * pair is missed only when NO centroid appears in both vectors'
    * top-`assign` sets) at a linear index-size cost.
    */
  private[graft] def ivfMultiIndex(e: DataFrame, centroids: DataFrame,
      assign: Int): DataFrame = {
    // explicit-count pre-partition replacing the assignment window's
    // own exchange (same key, same count — no added shuffle). Without
    // it AQE byte-coalesces that exchange to ONE partition, and since
    // hash(vec_id) satisfies every downstream clustering requirement
    // (the candidate distinct, the codes sort-merge join, the ADC
    // projection — the index vec_id IS the candidate n_id), the WHOLE
    // query chain up to the per-query ranking inherits the single
    // partition: measured 2.3-2.9 CPU-s on one task at sf1 inside
    // ann_ivf_pq, with the ADC fold serialized in it.
    val np = e.sparkSession.sessionState.conf.numShufflePartitions
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    crossCentroids(e, centroids)
      .repartition(np, col("vec_id"))
      .withColumn("ark", row_number().over(wAssign))
      .filter(col("ark") <= assign)
      .select(col("vec_id"), col("cid"))
  }

  /** Exact cosine scoring + ranked top-5 for a `(q_id, n_id)` candidate
    * frame — the shared tail of every ANN path (LSH, IVF, IVF-PQ): one
    * site owns the rounding digits, tie-break order, and k.
    */
  private def exactTop5(cands: DataFrame, q: DataFrame, e: DataFrame): DataFrame = {
    // explicit-count pre-partition on the re-rank join key: the
    // candidate and corpus frames are narrow enough that AQE
    // byte-coalesces the join's exchanges to ONE partition, which
    // serializes the exact-cosine scoring (measured 4.1 CPU-s on one
    // task at sf1 inside ann_ivf_pq). The repartition REPLACES the
    // join's own exchange (same key, explicit count) — no extra
    // shuffle, and the cosine work runs at session width.
    val np = e.sparkSession.sessionState.conf.numShufflePartitions
    val scored = cands
      .join(broadcast(q.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("norm").as("qn"))), "q_id")
      .repartition(np, col("n_id"))
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
        col("norm").as("nn")), "n_id")
      .select(col("q_id"), col("n_id"),
        Vectors.cos6(col("qe"), col("ne"), col("qn"), col("nn")).as("cos6"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("n_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("q_id", "rk")
  }

  /** `annIvf` over arbitrary corpus AND query `(vec_id, embedding)`
    * frames: the index (centroids + inverted lists) builds from the
    * corpus only; any query frame probes it. `excludeSelf` as in
    * `annLshFrom`: true for corpus-id-space queries, false for
    * external frames whose ids are unrelated to corpus ids.
    */
  def annIvfFrom(emb: DataFrame, queries: DataFrame,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select("vec_id", "embedding")
      .withColumn("norm", norm64("embedding"))
    val centroids = ivfCentroids(e, k = 16)
    val index = ivfInvertedIndex(e, centroids)
    ivfSearch(e, centroids, index, queries, excludeSelf)
  }

  /** The IVF QUERY path over prebuilt index frames — shared verbatim by
    * the train-in-plan entry (`annIvfFrom`) and the persisted-index
    * entry (`VectorIndexStore.annIvfFromIndex`), so "loaded equals
    * fresh" is structural, not a coincidence of two implementations.
    * `e` is the raw-vector frame used ONLY for the exact re-scoring
    * tail; `index` rows are narrow `(vec_id, cid)`.
    */
  private[sim] def ivfSearch(e: DataFrame, centroids: DataFrame,
      index: DataFrame, queries: DataFrame, excludeSelf: Boolean,
      nProbe: Int = 4): DataFrame = {
    val q = queries.select("vec_id", "embedding").withColumn("norm", norm64("embedding"))
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    val probed = crossCentroids(q, centroids)
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cid"))
    // the probe set is |queries| × nProbe rows — broadcast it so the
    // (possibly corpus-sized, possibly bucket-scanned) inverted index
    // never exchanges
    val cands = broadcast(probed).join(index, "cid")
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id").as("n_id"))
      // multi-assigned vectors can reach a query through two probed
      // lists; score each candidate once
      .distinct()
    exactTop5(cands, q, e)
  }

  /** IVF-PQ geometry: 8 subspaces × 8 dims, 32 codes per subspace. A
    * 64-float vector (256 B) compresses to 8 code bytes — at 100 TB of
    * embeddings THIS is what fits an index in executor memory; raw
    * vectors are read only for the final re-rank of a bounded candidate
    * set. ADC top-`max(PqRerank, n/25)` candidates get exact re-scoring
    * (the depth grows with the corpus — see the sweep in ivfPqSearch;
    * a fixed 100 measured 0.58 recall at 20k vectors); measured recall
    * 0.90-0.93 vs brute force at sf0.001-sf1 (the same range as
    * full-vector `annIvf`), floor-pinned at 0.85 in SimilaritySpec and
    * ScaleRecallSpec.
    */
  private[graft] val PqSubs = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqCodes = 32
  private[graft] val PqRerank = 100

  /** IVF-PQ ANN — the memory-bounded production configuration (the
    * third scale path beside hyperplane LSH and plain IVF): the IVF
    * coarse quantizer prunes the corpus to `nProbe` lists, and within
    * them candidates are scored from PRODUCT-QUANTIZED codes via
    * asymmetric distance computation (ADC: per query, one 8×32 lookup
    * table of subvector dot products; a candidate's approximate cosine
    * is 8 table lookups instead of a 64-dim dot against a vector that
    * would have to live in memory). The ADC top-`PqRerank` are re-scored
    * exactly and the top-5 returned, so the oracle's exact top-5 and
    * the recall floor mean the same thing as `ann_ivf`'s.
    *
    * All training is DataFrame aggregations: per-subspace codebooks are
    * 8 independent Lloyd loops run as ONE plan over the exploded
    * (vec_id, sub, subvector) stream — argmin by L2 via struct-min,
    * centroid update via the native vec_sum aggregate, 8×32 codebook
    * rows total. Codes materialize as a narrow (vec_id, array<int>[8])
    * frame — the ENTIRE per-vector index payload. The LUT is a per-query
    * map (map_from_entries) so codebook cells that lose every member
    * during Lloyd cannot corrupt positional indexing.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    annIvfPqFrom(emb, emb.filter(col("vec_id") < Queries))
  }

  /** `annIvfPq` over arbitrary corpus and query frames (`excludeSelf`
    * as in `annLshFrom`). Duplicate query vec_ids are collapsed — the
    * per-query ADC map build would otherwise throw on duplicate keys
    * where the other ANN paths merely emit duplicated rows.
    *
    * Checkpoints are LAZY (eager = false): each shared frame still
    * materializes exactly once at the first action, but constructing
    * the DataFrame stays side-effect-free and the full training subtree
    * remains visible to plan audits.
    */
  def annIvfPqFrom(emb: DataFrame, queries: DataFrame,
      excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select("vec_id", "embedding")
      .withColumn("norm", norm64("embedding"))
      .materializeOnce() // coarse training, PQ training, re-rank
    val (books, codes) = pqTrain(e)
    val centroids = ivfCentroids(e, k = 16, eager = false)
    val index = ivfInvertedIndex(e, centroids)
    // one count on the just-materialized narrow codes frame sizes the
    // ADC re-rank depth for this training session
    ivfPqSearch(e, centroids, index, books, codes, queries, excludeSelf,
      corpusN = codes.count())
  }

  /** Subspace-slicing expression shared by corpus encoding and query
    * LUT construction — one definition of the PQ geometry so the two
    * sides can never desynchronize.
    */
  private[sim] val SubExpr =
    s"""transform(sequence(0, ${PqSubs - 1}),
       |  s -> struct(s AS sub, slice(unit, s * $PqSubDim + 1, $PqSubDim) AS sv))""".stripMargin

  private def unitized(df: DataFrame): DataFrame =
    df.withColumn("unit", expr("transform(embedding, x -> CAST(x / norm AS FLOAT))"))

  /** PQ training over a normed corpus frame `(vec_id, embedding, norm)`
    * → (codebooks `(sub, code, cv)`, codes `(vec_id, codes array<int>)`)
    * — the two persistable artifacts. All as DataFrame aggregations (8
    * independent Lloyd loops as ONE plan over the exploded subvector
    * stream); both results are pinned so every consumer reads the
    * trained copy.
    */
  /** Unit-normalized exploded subvector stream `(vec_id, sub, sv)` —
    * the input shape for both PQ training and frozen-codebook encoding.
    */
  private def subvectors(e: DataFrame): DataFrame =
    unitized(e).select("vec_id", "unit")
      .select(col("vec_id"), explode(expr(SubExpr)).as("p"))
      .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))

  /** Nearest-codebook-cell assignment per (vec_id, sub). */
  private def assignSubCodes(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "sub")
      // the sv·sv self-term is constant across the 32 code candidates
      // and cannot move the argmin — d2 keeps only the code-dependent
      // terms, a third fewer vec_dot calls on the hottest training join
      .withColumn("d2",
        call_function("vec_dot", col("cv"), col("cv"))
          - lit(2.0) * call_function("vec_dot", col("sv"), col("cv")))
      .groupBy("vec_id", "sub")
      // struct min: lowest L2, ties to the lowest code — deterministic
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))

  /** Encode a normed `(vec_id, embedding, norm)` frame against FROZEN
    * codebooks → the narrow `(vec_id, codes)` index payload. This is
    * pqTrain's final step factored out so a persisted index can absorb
    * new batches without retraining (`VectorIndexStore.appendIvfPq`):
    * per-vector encoding depends only on the codebooks, so
    * append-then-query equals rebuild-with-frozen-quantizers exactly.
    */
  private[graft] def pqEncode(e: DataFrame, books: DataFrame): DataFrame =
    assignSubCodes(subvectors(e), books)
      .groupBy("vec_id")
      .agg(expr(
        "transform(sort_array(collect_list(struct(sub, code))), p -> p.code)")
        .as("codes"))

  private[sim] def pqTrain(e: DataFrame): (DataFrame, DataFrame) = {
    // PQ on UNIT vectors: subvector dot products then SUM to the full
    // cosine, so ADC approximates the exact score directly
    val subs = subvectors(e)
      .materializeOnce() // training rounds + final encoding
    def assignCodes(books: DataFrame): DataFrame = assignSubCodes(subs, books)
    // seeds: the PqCodes LOWEST corpus ids (id-space independent — a
    // filter on vec_id < PqCodes would seed NOTHING for a corpus whose
    // ids start past 32 and silently return an empty index), re-coded
    // dense 0..PqCodes-1 so the sub*PqCodes+code LUT key never collides
    val seedW = Window.partitionBy(pmod(col("vec_id"), lit(1))).orderBy(col("vec_id"))
    val seedIds = e.select("vec_id").orderBy("vec_id").limit(PqCodes)
      .withColumn("code", (row_number().over(seedW) - 1).cast("int"))
    var books = subs.join(broadcast(seedIds), "vec_id")
      .select(col("sub"), col("code"), col("sv").as("cv"))
    for (_ <- 1 to 2) {
      // cell mean in exact micro-unit integers (the ivfCentroids
      // contract): order-independent accumulation, so PQ training is
      // oracle-replayable; unit components are ≤ 1 so the quantized
      // sums stay far from overflow
      books = assignCodes(books).join(subs, Seq("vec_id", "sub"))
        .groupBy("sub", "code")
        .agg(call_function("vec_sum_long",
          expr("transform(sv, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"))
          .as("s"),
          count(lit(1)).as("cnt"))
        .select(col("sub"), col("code"),
          expr("transform(s, x -> CAST(FLOOR(CAST(x AS DOUBLE) / cnt) / 1000000.0D AS FLOAT))")
            .as("cv"))
    }
    books = books.materializeOnce() // encoding + every query LUT
    val codes = assignCodes(books)
      .groupBy("vec_id")
      .agg(expr(
        "transform(sort_array(collect_list(struct(sub, code))), p -> p.code)")
        .as("codes"))
      .materializeOnce() // the narrow per-vector index payload
    (books, codes)
  }

  /** The IVF-PQ QUERY path over prebuilt index frames — shared verbatim
    * by `annIvfPqFrom` (frames trained in-plan) and
    * `VectorIndexStore.annIvfPqFromIndex` (frames loaded from the
    * persisted index), so loaded-vs-built equality is structural. `e`
    * (raw vectors) feeds ONLY the bounded exact re-rank; candidate
    * scoring touches nothing wider than the 8-byte code rows.
    */
  private[sim] def ivfPqSearch(e: DataFrame, centroids: DataFrame,
      index: DataFrame, books: DataFrame, codes: DataFrame,
      queries: DataFrame, excludeSelf: Boolean, corpusN: Long,
      nProbe: Int = 4, rerank: Option[Int] = None): DataFrame = {
    // ADC re-rank depth must grow with the probed candidate pool or
    // recall collapses as the corpus grows: the sf1 validation measured
    // 0.58 recall at 20k vectors with the old FIXED depth of 100 (the
    // 32-code ADC ordering is a noisy permutation, so the rank of a
    // true neighbour scales with pool size ≈ n·assign·nProbe/k). The
    // depth scales with `corpusN`, which callers supply ONCE — the
    // in-plan path counts its just-materialized codes frame; the
    // persisted-index path reads n from the index METADATA, so no
    // corpus-wide count job runs per query batch — still a bounded
    // re-rank: 4% of the corpus at the default geometry (sf1 sweep:
    // depth 100→0.58, 400→0.84, n/25=800→0.93, 1200→0.96). The
    // 100 TB posture is NOT an ever-growing re-rank, it is growing
    // PqCodes with the corpus (finer ADC → smaller constant); this
    // divisor keeps the shipped 32-code geometry honest until that
    // flip (see PqCodes doc).
    val depth = rerank.getOrElse(
      math.max(PqRerank, (corpusN / 25L).toInt))
    val q = queries.select("vec_id", "embedding")
      .dropDuplicates("vec_id")
      .withColumn("norm", norm64("embedding"))
      .materializeOnce()
    val qsubs = unitized(q)
      .select(col("vec_id").as("q_id"), explode(expr(SubExpr)).as("p"))
      .select(col("q_id"), col("p.sub").as("sub"), col("p.sv").as("qsv"))
    // per-query ADC table: dot(query subvector, codebook cell) keyed by
    // sub*PqCodes + code — a MAP, not a positional array, so vanished
    // codebook cells (no members after Lloyd) stay un-indexable instead
    // of shifting positions
    val lut = qsubs.join(broadcast(books), "sub")
      .select(col("q_id"),
        (col("sub") * PqCodes + col("code")).as("i"),
        call_function("vec_dot", col("qsv"), col("cv")).as("contrib"))
      // explicit-count pre-partition replacing the aggregation's own
      // exchange: the collect_list partials are byte-small, so AQE
      // coalesced the LUT build onto ONE partition — and building
      // queries × (subs·codes)-entry maps is the CPU-dense part
      // (measured 4.5 CPU-s single-task at sf1). Same bytes moved,
      // map construction at session width.
      .repartition(e.sparkSession.sessionState.conf.numShufflePartitions,
        col("q_id"))
      .groupBy("q_id")
      .agg(map_from_entries(collect_list(struct(col("i"), col("contrib")))).as("lut"))

    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    val probed = crossCentroids(q, centroids)
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cid"))
    // broadcast the tiny probe set: the inverted index (bucket-scanned
    // when loaded from the persisted form) never exchanges
    val cands = broadcast(probed).join(index, "cid")
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    // ADC scoring: 8 map lookups per candidate, never the raw vector.
    // Explicit-count pre-partition on the codes join key — the same
    // serialization AQE's byte-coalescing causes in exactTop5 (the ADC
    // aggregate is an interpreted higher-order fold, CPU-dense per
    // row); the repartition replaces the join's own exchange.
    val adcW = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    val np = e.sparkSession.sessionState.conf.numShufflePartitions
    val shortlist = cands
      .repartition(np, col("n_id"))
      .join(codes.select(col("vec_id").as("n_id"), col("codes")), "n_id")
      .join(broadcast(lut), "q_id")
      .withColumn("adc", expr(
        s"""aggregate(sequence(0, ${PqSubs - 1}), CAST(0.0 AS DOUBLE),
           |  (acc, s) -> acc + element_at(lut, s * $PqCodes + element_at(codes, s + 1)))""".stripMargin))
      .withColumn("ark", row_number().over(adcW))
      .filter(col("ark") <= depth)
      .select("q_id", "n_id")
    // exact re-rank of the bounded ADC shortlist
    exactTop5(shortlist, q, e)
  }

  /** Embedding quality-control gate — the validation pass an embedding
    * pipeline runs before indexing (bad vectors poison ANN recall and
    * cosine math silently): per vector, the dimension, the L2 norm, and
    * flags for zero vectors, non-finite components, and dimension
    * mismatches. Scan-bound single projection — codegen'd higher-order
    * predicates over the float array, no shuffle, no explode.
    */
  /** Per-label embedding-space diagnostics — the cluster-cohesion gauge
    * an embedding owner reads next to `knn_classify`'s accuracy: for
    * each label, the member count, the norm of the label centroid, and
    * the mean/min cosine of members to their own centroid (cohesion —
    * a label whose members don't point at their centroid is a label the
    * encoder lost). Complements `embed_qc` (per-vector validity) with
    * per-CLASS geometry.
    *
    * Determinism contract (hash-gate-proof across engines): embeddings
    * quantize to exact micro-unit longs (`floor(x·1e6)`), per-dim
    * centroid sums are exact integer arithmetic, and every double
    * expression downstream consumes only those exact integers in a
    * fixed element-order fold — so Spark and DuckDB compute
    * bit-identical doubles. Cohesion cosines round to 6 places then
    * quantize to ppm ints; their mean/min are integer-exact. Cosines
    * use the raw centroid SUM vector (scale cancels), so no division
    * enters before the final rounded expressions.
    *
    * Scale shape: pass 1 is a narrow posexplode (label, pos, q_k) with
    * map-side partial aggregation collapsing to |labels|·dim rows per
    * partition; pass 2 re-scans the corpus once against the broadcast
    * |labels|-row centroid frame. No corpus-sized shuffle anywhere —
    * both aggregations are bounded by the label space.
    */
  def embedCentroidStats(spark: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))")
          .as("q"))
    val cen = qv.select(col("label"), posexplode(col("q")).as(Seq("pos", "qk")))
      // every vector contributes one row per pos, so the per-(label,pos)
      // row count IS the member count — carrying it here saves a third
      // corpus scan for a separate count aggregation
      .groupBy("label", "pos").agg(sum("qk").as("s"), count(lit(1)).as("cnt"))
      .groupBy("label")
      // pos is unique per label, so the struct sort is a deterministic
      // reassembly of the centroid vector in dimension order
      .agg(expr("transform(array_sort(collect_list(struct(pos, s))), p -> p.s)")
        .as("cen"),
        max("cnt").as("n_vecs"))
    val cohesion = qv.join(broadcast(cen), "label")
      .withColumn("dotc", expr(
        "aggregate(zip_with(q, cen, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0.0D, (x, y) -> x + y)"))
      .withColumn("nq", expr(
        "sqrt(aggregate(transform(q, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 0.0D, (x, y) -> x + y))"))
      .withColumn("ncs", expr(
        "sqrt(aggregate(transform(cen, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 0.0D, (x, y) -> x + y))"))
      .withColumn("cos_ppm", expr(
        "CAST(FLOOR(round(dotc / (nq * ncs), 6) * 1000000.0D + 0.5D) AS BIGINT)"))
      .groupBy("label")
      .agg(sum("cos_ppm").as("sum_ppm"), min("cos_ppm").as("min_cos_ppm"))
    cen.join(cohesion, "label")
      .select(col("label"), col("n_vecs"),
        expr("""round(sqrt(aggregate(transform(cen,
          |  v -> (CAST(v AS DOUBLE) / n_vecs) * (CAST(v AS DOUBLE) / n_vecs)),
          |  0.0D, (x, y) -> x + y)) / 1000000.0D, 6)""".stripMargin)
          .as("centroid_norm6"),
        expr("CAST(sum_ppm DIV n_vecs AS BIGINT)").as("mean_cos_ppm"),
        col("min_cos_ppm"))
      .orderBy("label") // label-space-sized output: bounded sort
  }

  /** Hard-negative mining for dense-retrieval training — for each
    * query vector (the `cosineTopK` query batch) the top-8 most
    * similar vectors that carry a DIFFERENT label, with near-duplicates
    * (rounded cosine ≥ 0.995) excluded so a paraphrase of the positive
    * never lands in the negative set (the standard false-negative
    * guard). This is the mining pass every contrastive-training
    * pipeline runs between embedding refreshes; it sits beside
    * `knnClassify` as the second canonical APPLICATION of the
    * similarity surface.
    *
    * Scale shape: identical to `cosineTopK` — the query side is a
    * bounded training batch broadcast through a derived-key BHJ (never
    * a nested loop), the corpus streams once, and the per-query top-k
    * is a window over |queries|·|corpus| NARROW rows that AQE splits
    * per query key. Swapping the exact scorer for the persisted-index
    * probe path (`VectorIndexStore.annExactRerank`'s candidate
    * machinery) changes recall, not shape.
    */
  def hardNegatives(spark: SparkSession, dir: String,
      k: Int = 8, dupCeil: Double = 0.995): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding", "label")
      .withColumn("norm", norm64("embedding"))
    val q = e.filter(col("vec_id") < Queries)
    // derived-key broadcast join (the annExactRerank crossCentroids
    // pattern): BHJ on a constant key keeps the plan nested-loop-free
    // while the bounded query batch broadcasts
    val scored = broadcast(q.withColumn("one", pmod(col("vec_id"), lit(1)).cast("int"))).as("a")
      .join(e.withColumn("one", pmod(col("vec_id"), lit(1)).cast("int")).as("b"), "one")
      .filter(col("a.vec_id") =!= col("b.vec_id") &&
        col("a.label") =!= col("b.label"))
      .select(
        col("a.vec_id").as("q_id"), col("b.vec_id").as("neg_id"),
        Vectors.cos6(col("a.embedding"), col("b.embedding"),
          col("a.norm"), col("b.norm")).as("cos6"))
      // the ceiling compares the ROUNDED cosine — the cross-engine contract
      .filter(col("cos6") < lit(dupCeil))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("neg_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("q_id", "rk")
  }

  /** Contrastive TRIPLET mining — the training artifact
    * [[hardNegatives]] exists to feed: per anchor (the query batch),
    * the best positive (top same-label neighbour by cosine, ties to
    * the lowest id) and the best hard negative (top different-label
    * neighbour under the near-dup ceiling), with the triplet margin
    * `pos_cos6 − neg_cos6` — the quantity a triplet/InfoNCE loss
    * consumes and the mining report an embedding owner reads to pick
    * margin hyper-parameters. Anchors missing either side drop
    * (inner join) — a label with one member has no positive.
    *
    * One corpus scan scores both sides (the derived-key BHJ shape of
    * `hardNegatives`); each side's arg-max is a partial-aggregating
    * max(struct) with the id negated for the asc tie-break — no
    * window sort, no second scan. Determinism: cosines rounded to 6
    * before anything consumes them; the margin is one subtraction of
    * two identical-by-contract doubles, rounded again.
    */
  def tripletMine(spark: SparkSession, dir: String,
      dupCeil: Double = 0.995): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding", "label")
      .withColumn("norm", norm64("embedding"))
    val q = e.filter(col("vec_id") < Queries)
    val scored = broadcast(q.withColumn("one", pmod(col("vec_id"), lit(1)).cast("int"))).as("a")
      .join(e.withColumn("one", pmod(col("vec_id"), lit(1)).cast("int")).as("b"), "one")
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        (col("a.label") === col("b.label")).as("same"),
        Vectors.cos6(col("a.embedding"), col("b.embedding"),
          col("a.norm"), col("b.norm")).as("cos6"))
      .materializeOnce(eager = false)
    def top(df: DataFrame, id: String, c: String): DataFrame = df
      .groupBy("q_id")
      .agg(max(struct(col("cos6"), (-col("n_id")).as("nid"))).as("b"))
      .select(col("q_id"), (-col("b.nid")).as(id), col("b.cos6").as(c))
    val pos = top(scored.filter(col("same")), "pos_id", "pos_cos6")
    val neg = top(scored.filter(!col("same") && col("cos6") < lit(dupCeil)),
      "neg_id", "neg_cos6")
    pos.join(neg, "q_id")
      .withColumn("margin6", round(col("pos_cos6") - col("neg_cos6"), 6))
      .orderBy("q_id") // query-batch-sized output: bounded sort
  }

  def embedQc(spark: SparkSession, dir: String, expectDim: Int = 64): DataFrame =
    // no global ORDER BY — corpus-sized QC report (see embedQcFrom doc)
    embedQcFrom(Tables.embeddings(spark, dir), expectDim)

  /** `embedQc` over an arbitrary embeddings frame (unsorted — pipeline
    * consumers filter it, and a global sort of a corpus-sized QC report
    * is pure cost; the query entry adds the sort for readable diffs).
    */
  def embedQcFrom(emb: DataFrame, expectDim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(norm64("embedding"), 6).as("norm6"),
        expr("CAST(exists(embedding, x -> isnan(x) OR abs(x) = double('Infinity')) AS INT)")
          .as("flag_nonfinite"),
        expr("CAST(NOT exists(embedding, x -> x != 0.0F) AS INT)").as("flag_zero"))
      .withColumn("flag_dim", (col("dim") =!= expectDim).cast("int"))
  }
}
