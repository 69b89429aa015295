package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize.MatOps
import graft.core.{Adaptive, Decisions, Tables}
import graft.functions.GraftFunctions

/** Deduplication suite for training-data curation: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding near-dup.
  *
  * Design for 100 TB (SURVEY.md §5): signatures are computed per-row by
  * one fused codegen'd expression (no explode fan-out of work, no
  * shuffle); LSH buckets contribute STAR EDGES (member → bucket-min,
  * linear in bucket size — never per-bucket pairs, which are quadratic
  * and were measured at 339M rows for a 12M-pair corpus); connected
  * components over those edges give candidate groups; the quadratic
  * all-pairs step runs only WITHIN a component, tiled over a 2-D block
  * grid so the unavoidable O(pairs) verification work spreads evenly
  * with no skew. Verification is an exact merge-walk intersection over
  * pre-sorted hashed sets, so the output equals the all-pairs oracle
  * result (miss probability per qualifying pair ≤ 1e-8 at 64×2 bands).
  */
object Dedup {

  /** A document's word-token signature set: its distinct space-split
    * tokens, xxhash64-ed to longs. One definition for every MinHash
    * path, so the in-run operators and the persisted stores can never
    * disagree on what a document's set is.
    */
  private[graft] def tokenSet: Column =
    expr("transform(array_distinct(split(text, ' ')), t -> xxhash64(t))")

  /** [[tokenSet]] sorted, for merge-walk verification. */
  private[graft] def sortedTokenSet: Column = array_sort(tokenSet)

  /** Blocks per side of the within-component pair grid, sized from the
    * corpus row count. A component of m docs becomes B² tiles of (m/B)²
    * pairs each, so one mega-component cannot serialize the verification
    * stage — but replication is O(n·B) copies of the (fat) hashed-set
    * rows, so B must grow with n, not be fixed: B=32 on a 5k corpus
    * shuffles 64 copies of every ~8 KB set (2.6 GB at sf0.1) to fill
    * tiles that hold a few thousand pairs each. Targets ~300k pair
    * verifications per tile with a floor that keeps at least ~2× the
    * local cores busy and a cap that bounds tile-grid metadata.
    */
  private def pairGridBlocks(n: Long): Int =
    math.max(8, math.min(1024, math.ceil(n / 700.0).toInt))

  /** Direct per-bucket pair generation is taken when the measured
    * Σ C(bucket,2) stays under this many rows; above it the component
    * path amortizes duplicate pairs across bands. ~20M 16-byte rows
    * through one distinct is a few seconds on 32 cores and scales with
    * cluster size.
    */
  private val DirectPairRowLimit = 2e7

  /** EXACT size prefilter for Jaccard ≥ 0.5 candidates: `2·inter ≥
    * uni` forces `3·inter ≥ |a|+|b|` and `inter ≤ min(|a|,|b|)`, so
    * any qualifying pair has `max ≤ 2·min`. Two int compares ahead of
    * an O(|a|+|b|) merge walk — chained components pair docs of wildly
    * different sizes, and those pairs never need the walk at all.
    */
  private[graft] def sizeCompatible(sa: Column, sb: Column): Column =
    greatest(size(sa), size(sb)) <= lit(2) * least(size(sa), size(sb))

  /** MinHash(128) + LSH banding (64 bands × 2 rows) near-dup pairs over
    * a `(doc_id, s)` set frame (s: array of 64-bit element hashes),
    * verified with exact set intersection at threshold `2*inter >= uni`
    * (Jaccard ≥ 0.5). With r=2, b=64 the probability a J=0.5 pair shares
    * no band bucket is (1-0.25)^64 ≈ 1e-8, so the verified output equals
    * the exact all-pairs result the oracle computes.
    *
    * Candidate generation is component-based, not per-bucket pairs:
    * every bucket links its members to its smallest member (star edges —
    * linear, skew-proof: a boilerplate mega-bucket contributes rows, not
    * row-pairs); connected components (`Components.minLabels`: a
    * spanning-forest contraction, Kiveris et al. "Connected Components
    * in MapReduce"-style, finished by one driver union-find or, past the
    * broadcast cap, by min-label rounds) labels each doc with its
    * component; candidates
    * are all pairs within a component, generated by a 2-D block-grid
    * equi-join (the distributed matrix-tile shape — both sides pinned to
    * the same explicit partitioning, so AQE cannot coalesce the
    * quadratic fan-out; see dedupEmbeddingExact). Any pair sharing any
    * bucket lands in one component, so candidate recall is a superset of
    * direct banding. Chained components can only ADD candidates; exact
    * verification removes them.
    */
  private[graft] def minhashVerifiedPairs(
      sets: DataFrame,
      directLimit: Double = DirectPairRowLimit): DataFrame = {
    val spark = sets.sparkSession
    GraftFunctions.register(spark)

    // CANONICALIZE identical sets before any quadratic work: equal sets
    // have equal Jaccard against everything (and Jaccard 1 with each
    // other, sharing every band bucket — so the pre-canonical path
    // verified those pairs too), so banding, candidate generation, and
    // the merge-walk verification run once per DISTINCT set and the
    // verified pairs expand back to doc pairs afterwards. Real corpora
    // are exact-duplicate-heavy — measured at the 10× ScaleUp corpus,
    // this collapsed 400M candidate verifications to the distinct-set
    // pair graph. The groupBy shuffles the same corpus-sized set frame
    // the pre-canonical repartition did — no added exchange; grouping
    // is BY THE ARRAY itself (exact equality, no hash-collision risk).
    // The explicit-count repartition REPLACES the aggregation's own
    // exchange (same key, same count — no second shuffle) and pins the
    // checkpointed groups frame at session width: AQE byte-coalesced the
    // agg output to ONE partition, so every downstream construction read
    // (banding, the member-map broadcast builds, the grid sides) ran
    // single-task — measured as 2×~2 s serial single-task stages at sf1.
    // The pin itself is LAZY: the eager banding pin below materializes
    // it inside the same job (one fewer driver-sequenced action).
    val np = spark.sessionState.conf.numShufflePartitions
    val groups = sets
      .select(col("doc_id"), array_sort(col("s")).as("s"))
      .repartition(np, col("s"))
      .groupBy("s")
      .agg(min(col("doc_id")).as("rep"),
        count(lit(1)).as("n_members"),
        collect_list(col("doc_id")).as("members"))
      .materializeOnce()

    // narrow VIEWS of the one pinned frame — a second eager pin of the
    // corpus-sized array data would double the checkpoint I/O
    val sorted = groups.select(col("rep").as("doc_id"), col("s"))

    val banded = sorted.select(
      col("doc_id"),
      explode(call_function("minhash_band_buckets", col("s"), lit(64))).as("bucket"))
      .materializeOnce(eager = true)

    // verification runs directly on the candidate join's projection (no
    // shuffle in between), so the quadratic pair stream is never
    // materialized — only its verified output
    // fused early-exit verify: sorted_intersect_ge05 returns −1 for
    // non-qualifying pairs WITHOUT walking both arrays to the end
    val repPairs = adaptivePairs(sorted, banded, directLimit)
      .filter(sizeCompatible(col("s_a"), col("s_b")))
      .select(col("doc_id_a").as("rep_a"), col("doc_id_b").as("rep_b"),
        col("s_a").as("sa"), col("s_b").as("sb"))
      .withColumn("inter",
        call_function("sorted_intersect_ge05", col("sa"), col("sb")))
      .filter(col("inter") >= 0)
      .withColumn("uni",
        (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .select("rep_a", "rep_b", "inter", "uni")

    // expansion 1: CROSS-group — every member pair of a verified rep
    // pair shares the reps' exact (inter, uni); reps are per-group min
    // ids but group ids interleave, so order with least/greatest
    val memberOf = groups.select(col("rep"), explode(col("members")).as("m"))
    val cross = repPairs
      .join(memberOf.select(col("rep").as("rep_a"), col("m").as("ma")), "rep_a")
      .join(memberOf.select(col("rep").as("rep_b"), col("m").as("mb")), "rep_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        col("inter"), col("uni"))

    // expansion 2: WITHIN-group — identical sets are Jaccard-1 pairs
    // with inter = uni = |s|. Output-sized by definition; tiled through
    // the same 2-D grid as component pairs so one boilerplate
    // mega-group (the 100 TB skew case) cannot serialize a task
    val dupMembers = groups.filter(col("n_members") > 1)
      .select(col("rep"), size(col("s")).cast("long").as("ss"),
        explode(col("members")).as("doc_id"))
    val within = gridPairJoin(dupMembers, "doc_id", Seq("rep"),
        pairGridBlocks(dupMembers.count()), np * 4)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("ss_a").as("inter"), (col("ss_a")).as("uni"))

    cross.unionByName(within)
  }

  /** Banded rows aggregated by the strategy-statistics pass before it
    * switches to a fixed-seed sample. The estimator stays unbiased
    * (E[C(k,2)] = C(m,2)·f² for a Binomial(m, f) sampled bucket, so
    * Σ C(k,2)/f² estimates Σ C(m,2)), and the pass stops shuffling the
    * full bands×corpus frame just to CHOOSE a path — at 100 TB the
    * statistics read a bounded sample, like AQE's runtime stats. Below
    * the cap the statistic is exact; either way both strategies are
    * correct, so estimation error only ever moves the switch point.
    */
  private val StatsSampleRows = 4e6

  /** ADAPTIVE LSH candidate-pair generation, shared by every bucketed
    * dedup family (MinHash bands, n-gram bands, SimHash pigeonhole
    * blocks). `items` is the payload frame (`doc_id` + whatever the
    * caller's verifier needs); `banded` is the narrow `(doc_id, bucket)`
    * collision frame. Returns one row per distinct unordered candidate
    * pair (`doc_id_a < doc_id_b`) with every `items` column suffixed
    * `_a` / `_b`.
    *
    * The strategy is chosen from the measured bucket-size distribution
    * (one cheap aggregation over the banded frame):
    *
    * - SPARSE collision graphs (few/small buckets — e.g. 3-gram sets,
    *   where sub-threshold pairs still collide in ≥1 band and would
    *   CHAIN into giant components): direct per-bucket pairs +
    *   distinct. Measured on the n-gram corpus at sf0.1: ~100k direct
    *   pair rows vs 4.9M component-closure candidates for 256 true
    *   pairs, and no serial CC rounds.
    * - DENSE graphs (near-dup-heavy corpora, or hot buckets whose
    *   membership grows with the corpus): per-bucket pairs explode
    *   (339M rows at sf0.1 for 12.5M distinct pairs), so candidates
    *   come from connected components over per-bucket STAR edges
    *   (linear in bucket size), with the quadratic all-pairs step tiled
    *   over a 2-D grid WITHIN each component.
    *
    * Both paths feed the same exact verification downstream, so the
    * caller's output is identical either way — this is a physical-plan
    * choice from data statistics, the same move AQE makes for joins.
    * The component path's candidates are a superset (any pair sharing
    * any bucket lands in one component; chaining only ADDS candidates);
    * exact verification removes the extras.
    */
  private[graft] def adaptivePairs(items: DataFrame, banded: DataFrame,
      directLimit: Double = DirectPairRowLimit): DataFrame = {
    val spark = items.sparkSession
    // every caller checkpoints `banded` before passing it, so this
    // count reads materialized partition sizes — no recompute
    val bandedRows = math.max(1L, banded.count())
    val f = math.min(1.0, StatsSampleRows / bandedRows)
    val statsSrc = if (f >= 1.0) banded else banded.sample(false, f, 42L)
    val directPairRows = statsSrc.groupBy("bucket").count()
      .select(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0)))
      .first().getDouble(0) / (f * f)
    val np = spark.sessionState.conf.numShufflePartitions * 4
    val outCols = items.columns.map(c => col(c + "_a")) ++
      items.columns.map(c => col(c + "_b"))
    Decisions.record("dedup.adaptivePairs",
      if (directPairRows <= directLimit) "direct" else "components",
      directPairRows, directLimit)
    if (directPairRows <= directLimit) {
      // sparse: candidates stay narrow through the bucket self-join and
      // the distinct; payloads join back once per distinct pair. Plain
      // equi-joins — the items frame is unbounded by corpus size (bucket
      // sparsity says nothing about doc count), so a forced broadcast
      // would die on a large mostly-unique corpus; the candidate side is
      // bounded by directLimit, so the shuffle join stays small. Narrow
      // rows, small output: session partitioning suffices (the ×4 fan
      // below exists for the dense path's fat grid tiles — pinning it
      // here just multiplies task-launch overhead; measured ~2 s of the
      // embedding-LSH wall time on local[32])
      val npDirect = spark.sessionState.conf.numShufflePartitions
      val capped = banded.repartition(npDirect, col("bucket"))
      capped.as("x")
        .join(capped.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id_a"), col("y.doc_id").as("doc_id_b"))
        .distinct()
        .join(items.select(items.columns.map(c => col(c).as(c + "_a")): _*), "doc_id_a")
        .join(items.select(items.columns.map(c => col(c).as(c + "_b")): _*), "doc_id_b")
        .select(outCols: _*)
    } else {
      // dense: star edges → components → all pairs within a component,
      // tiled by gridPairJoin (payloads riding along)
      val edges = banded
        .withColumn("root", min(col("doc_id")).over(Window.partitionBy("bucket")))
        .filter(col("doc_id") =!= col("root"))
        .select(col("doc_id").as("src"), col("root").as("dst"))
      // counting the (checkpointed) items frame is one narrow scan — the
      // same statistic AQE would gather — and sizes the tile grid
      val nItems = items.count()
      val labels = Components.minLabels(edges)
      // attach the component id by broadcasting the NARROW label frame
      // (two longs per node) into the items scan — left to its own
      // stat-free estimate over the checkpointed RDDs the planner
      // broadcast the FAT items side instead (the full hashed-set
      // arrays, once per grid side: 2×~2 s single-task builds at sf1,
      // and a corpus-sized broadcast at 100 TB). Past the cap the
      // labels side builds shuffled hash tables, or takes the planner's
      // join once a per-task table would pass it (Adaptive.buildSide).
      val lblSide = Adaptive.buildSide(nItems, "dedup.labelJoin")
      val members = items.join(
        lblSide(labels.select(col("doc_id"), col("lbl").as("comp"))), "doc_id")
      val blocks = pairGridBlocks(nItems)
      gridPairJoin(members, "doc_id", Seq("comp"), blocks, np)
        .select(outCols: _*)
    }
  }

  /** 2-D block-grid self-pair join: every unordered pair of input rows
    * with equal `groupCols` values and `idCol`(a) < `idCol`(b) meets in
    * EXACTLY one tile — row a replicates to tiles (blk(a), *), row b to
    * (*, blk(b)), and the equi-join on (group, i, j) intersects them
    * only at (blk(a), blk(b)). Both sides land on the SAME pinned
    * (group, i, j) partitioning: an equi-join (never a
    * BroadcastNestedLoopJoin), blocks² tiles per group so one
    * mega-group cannot serialize the quadratic work, and the explicit
    * partition count keeps AQE from coalescing tiles whose OUTPUT (not
    * input) is quadratic. Output columns are the input's, suffixed
    * `_a` / `_b`.
    */
  private[graft] def gridPairJoin(df: DataFrame, idCol: String,
      groupCols: Seq[String], blocks: Int, np: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = (0 until blocks).flatMap(i => (0 until blocks).map(j => (i, j)))
      .toDF("gi", "gj")
    def side(suffix: String, blkMatch: String) =
      // block id from the HASHED id: raw `pmod(id, blocks)` skews tiles
      // whenever the id distribution correlates with the modulus (e.g.
      // even-only ids fill half the tiles); hashing first is free and
      // distribution-proof
      df.withColumn("blk", pmod(xxhash64(col(idCol)), lit(blocks)).cast("int"))
        .join(broadcast(grid), col("blk") === col(blkMatch))
        .select(col("gi").as("gi" + suffix) +: col("gj").as("gj" + suffix) +:
          df.columns.toSeq.map(c => col(c).as(c + suffix)): _*)
        .repartition(np,
          (Seq(col("gi" + suffix), col("gj" + suffix)) ++
            groupCols.map(c => col(c + suffix))): _*)
    val a = side("_a", "gi")
    val b = side("_b", "gj")
    val cond = groupCols
      .map(c => col(c + "_a") === col(c + "_b"))
      .foldLeft(col("gi_a") === col("gi_b") && col("gj_a") === col("gj_b") &&
        col(idCol + "_a") < col(idCol + "_b"))(_ && _)
    a.hint("shuffle_hash").join(b, cond)
  }

  /** Exact dedup by content hash: keep the smallest doc_id per distinct
    * normalized text (storage.rs dedup-by-content identity). One shuffle
    * on the 128-bit hash.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(md5(trim(col("text"))).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** MinHash+LSH near-dup pairs over word token sets, Jaccard ≥ 0.5.
    * Tokens are xxhash64-ed to longs in the scan projection: set sizes
    * and intersections are preserved (64-bit collisions are ~1e-9 at
    * corpus vocabulary sizes), and only 8-byte elements ride the
    * verification join.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), tokenSet.as("s"))
    minhashVerifiedPairs(sets)
  }

  /** Near-duplicate CLUSTERS with survivor selection — the operation a
    * dedup pipeline actually applies at 100 TB (emitting all pairs is
    * quadratic in cluster size; grouping is linear). Connected
    * components over the VERIFIED Jaccard ≥ 0.5 pair graph
    * (`dedupMinhash`), every doc labelled with its cluster's smallest
    * doc_id, cluster sizes attached, `keep` = 1 for the survivor.
    * Docs with no qualifying pair are their own singleton cluster.
    */
  /** The verified Jaccard ≥ 0.5 pair graph, persisted once per corpus
    * fingerprint — the shared intermediate the whole cluster family
    * consumes (`dedupCluster`, `dedupClusterBest`, the curation
    * report's dedup gate, and the label-index build all sit on the
    * SAME banding→verify chain; before this cache each reran it from
    * scratch). The artifact is pair-count-sized but NARROW (two ids +
    * two longs — corpus text never lands in it), the exact shape the
    * label store already persists post-CC; this caches the pre-CC
    * stage so the chain runs once per crawl, not once per consumer.
    * Freshness rides the shared fingerprint protocol, so in-place
    * corpus regeneration rebuilds transparently. `dedupMinhash`
    * itself stays the live recompute — it IS the cached chain.
    *
    * Layout (v2): the SYMMETRIC neighbour frame `(doc_id, nbr, inter,
    * uni)` — each pair in both directions — BUCKETED by `doc_id`
    * (`Sinks.writeBucketed`, the `sync_diff_bucketed` pattern). Every
    * consumer's first move is doc-keyed: CC round 0's min-neighbour
    * aggregation, the survivor maps, the threshold table's per-doc
    * max. Against the old plain one-direction parquet each of them
    * re-shuffled the |pairs|-sized frame per read (the one
    * edge-proportional exchange in the family); off the bucketed
    * symmetric table the doc-keyed aggregation is exchange-FREE, paid
    * once at write time. 2× the rows, still two ids + two longs each
    * — the classic space-for-shuffle trade a persisted graph makes.
    */
  def ensureVerifiedPairs(spark: SparkSession, dir: String): String = {
    val base = graft.core.IndexScratch.scratchBase(dir, "mhpairs")
    val fp = "mhpairs-v2:" + graft.core.IndexScratch
      .sourceFingerprint(spark, s"$dir/documents.parquet")
    graft.core.IndexScratch.ensureBuilt(base, fp) {
      val p = dedupMinhash(spark, dir).materializeOnce(eager = true)
      val sym = p.select(col("doc_a").as("doc_id"), col("doc_b").as("nbr"),
          col("inter"), col("uni"))
        .unionByName(p.select(col("doc_b").as("doc_id"), col("doc_a").as("nbr"),
          col("inter"), col("uni")))
        // one writer partition per bucket (same murmur3 hash as the
        // bucket spec), so each bucket lands as ONE sorted file —
        // without it every upstream partition writes its own sliver of
        // every bucket and the table fragments into writers × buckets
        // small files (measured: a 2× slower scan from footer overhead)
        .repartition(PairBuckets, col("doc_id"))
      graft.sinks.Sinks.writeBucketed(sym, pairsTable(base), "doc_id",
        PairBuckets, Some(s"$base/pairs_sym"))
    }
    base
  }

  private val PairBuckets = 32

  private def pairsTable(base: String): String =
    "graft_idx_" + graft.core.IndexScratch.md5hex(base).take(10) + "_mhpairs"

  /** The cached [[ensureVerifiedPairs]] graph as the bucketed SYMMETRIC
    * frame `(doc_id, nbr, inter, uni)` — reads through the store's
    * catalog entry so doc-keyed aggregations stay exchange-free.
    */
  def verifiedPairsSymCached(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureVerifiedPairs(spark, dir)
    graft.core.IndexScratch.bucketedTable(spark, pairsTable(base),
      s"$base/pairs_sym", "doc_id", PairBuckets)
  }

  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val sym = verifiedPairsSymCached(spark, dir)
    // pre-symmetrized entry: the spanning forest reads the table's
    // buckets in place, and past the driver-finish cap the rounds'
    // |pairs|-sized aggregation groups on the table's own bucket key —
    // zero exchange on the graph side either way
    val labels = Components.minLabelsSym(
      sym.select(col("doc_id"), col("nbr").as("root")),
      sym.filter(col("doc_id") < col("nbr"))
        .select(col("doc_id").as("src"), col("nbr").as("dst")))
    val clustered = Tables.documents(spark, dir).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
    val sizes = clustered.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    clustered
      .join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("cluster")).cast("int").as("keep"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Quality-aware survivor selection over the near-dup clusters — what
    * a production dedup actually applies: `dedupCluster` keeps the
    * min-id doc per cluster (the reference's storage.rs latest-wins
    * convention), but a training pipeline keeps the BEST duplicate
    * (highest quality gate score; boilerplate-stripped mirrors of the
    * same page often differ hugely). Survivor = arg-max quality score,
    * ties to the lowest doc_id.
    *
    * Scale shape: the cluster map is linear in the corpus; the quality
    * join is key-to-key; the per-cluster arg-max is ONE unordered
    * window aggregate (struct-max over the cluster partition — no sort
    * ranking), so this adds a single cluster-keyed shuffle on top of
    * `dedupCluster`, and window state is bounded by cluster size.
    */
  def dedupClusterBest(spark: SparkSession, dir: String): DataFrame =
    clusterBestFrom(
      dedupCluster(spark, dir).select("doc_id", "cluster", "cluster_size"),
      graft.text.TextOps.qualityScore(spark, dir).select(col("doc_id"), col("score")))

  /** The quality-argmax half of `dedupClusterBest`, factored so the
    * persisted-label path (`MinhashIndexStore.dedupClusterBestIndexed`)
    * applies the IDENTICAL selection over loaded clusters.
    */
  def clusterBestFrom(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val joined = clusters.join(quality, "doc_id")
    // arg-max as struct-max of (score, -doc_id): one aggregate over the
    // cluster partition, no row_number sort, deterministic tie-break
    val best = max(struct(col("score"), (-col("doc_id")).as("nid")))
      .over(Window.partitionBy(col("cluster")))
    joined
      .withColumn("b", best)
      .select(col("doc_id"), col("cluster"), col("cluster_size"), col("score"),
        (-col("b.nid")).as("best_doc"),
        (col("doc_id") === -col("b.nid")).cast("int").as("keep"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Dedup threshold-SENSITIVITY calibration — the table an operator
    * reads BEFORE hard-coding any near-dup threshold (the
    * `quality_percentiles` move applied to dedup policy): for each
    * Jaccard decile t ∈ {0.5 … 1.0}, the verified pair count at J ≥ t
    * and the number (and corpus ppm) of documents that would be flagged
    * dup-involved there. A threshold is a recall/precision trade on
    * REAL duplication structure; this makes the structure observable
    * per corpus instead of assumed from another corpus's folklore.
    *
    * Rides the per-corpus-fingerprint verified-pair graph
    * ([[ensureVerifiedPairs]] — the fifth consumer of the cached
    * artifact), which stores EXACT `(inter, uni)` per qualifying pair,
    * so every decile count is exact integer math; the graph's own
    * J ≥ 0.5 floor is the table's first row by construction. Cumulative
    * ≥-counts come from a map-side `sequence(5, bucket)` explode of the
    * ≤ 6-row histograms (never a non-equi join). Scale shape: one
    * narrow pair-graph scan + one pair-keyed explode for the per-doc
    * max; everything after is decile-sized; the totals row broadcasts.
    */
  def dedupThresholdStats(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark) // single-row-cross rewrite for the totals join
    val sym = verifiedPairsSymCached(spark, dir)
      .select(expr("CAST(10 * inter DIV uni AS INT)").as("b10"),
        col("doc_id"), col("nbr"))
    val pairCum = sym.filter(col("doc_id") < col("nbr"))
      .groupBy("b10").agg(count(lit(1)).as("np"))
      .select(explode(expr("sequence(5, b10)")).as("t10"), col("np"))
      .groupBy("t10").agg(sum("np").as("n_pairs_ge"))
    // the symmetric layout already holds one row per (doc, pair) side,
    // and the per-doc max groups on the table's bucket key — the old
    // explode-both-ids shape paid a |pairs|-sized exchange here
    val docCum = sym
      .groupBy("doc_id").agg(max(col("b10")).as("mb"))
      .groupBy("mb").agg(count(lit(1)).as("nd"))
      .select(explode(expr("sequence(5, mb)")).as("t10"), col("nd"))
      .groupBy("t10").agg(sum("nd").as("n_docs_ge"))
    val tot = Tables.documents(spark, dir).agg(count(lit(1)).as("total"))
    spark.range(5, 11).select(col("id").as("t10"))
      .join(broadcast(pairCum), Seq("t10"), "left")
      .join(broadcast(docCum), Seq("t10"), "left")
      .crossJoin(broadcast(tot))
      .select(col("t10"),
        coalesce(col("n_pairs_ge"), lit(0L)).as("n_pairs_ge"),
        coalesce(col("n_docs_ge"), lit(0L)).as("n_docs_ge"),
        expr("CAST(1000000 * COALESCE(n_docs_ge, 0L) DIV total AS BIGINT)")
          .as("flagged_ppm"))
      .orderBy("t10") // six rows: bounded sort
  }

  /** 64-bit SimHash fingerprint per document (the Manku et al. 2007
    * configuration): ONE md5 per distinct token, its first 16 hex chars
    * read as a 64-bit integer, each output bit j the sign of the ±1
    * majority over bit j of the token hashes. Portable bit-for-bit
    * across engines (the oracle computes the same md5-prefix
    * formulation in SQL, as two 32-bit halves recombined signed); the
    * whole fold is one native expression (graft.functions.Simhash64)
    * instead of a 64-way interpreted `aggregate` lambda stack. One
    * projection, no shuffle.
    */
  def simhashFp(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // guarded spread: the md5+majority fold is CPU-bound per row and a
    // small single-file scan would otherwise run it in one task
    Adaptive.spreadScan(spark, Tables.documents(spark, dir), dir, "documents")
      .select(
        col("doc_id"),
        call_function("simhash64", array_distinct(split(col("text"), " ")))
          .as("simhash"))
  }

  /** SimHash near-duplicate pairs at Hamming distance ≤ 3 — the
    * fingerprint-space dedup `simhashFp` feeds (Manku et al. 2007,
    * "Detecting Near-Duplicates for Web Crawling", pigeonhole
    * formulation): split the 64-bit fingerprint into 4 16-bit blocks;
    * any pair within distance 3 must agree on ≥ 1 whole block, so
    * candidates collide on (block_idx, block_value) — 4 × 65,536
    * distinct keys, and membership per key thins as fingerprint entropy
    * spreads over 64 bits (the 32-bit/8-bit-block predecessor had only
    * 4 × 256 keys, so every bucket's membership grew O(corpus) and the
    * per-bucket self-join was quadratic at scale). Candidates route
    * through the shared `adaptivePairs` machinery, so a corpus whose
    * block values still run hot (boilerplate-heavy near-dup corpora)
    * switches to star-edges → components → 2-D grid instead of
    * per-bucket pairs. Output is exact: verification is bit arithmetic,
    * so the result equals the all-pairs oracle.
    */
  def simhashNear(spark: SparkSession, dir: String): DataFrame =
    simhashNearPairs(simhashFp(spark, dir).materializeOnce(eager = true))

  /** `simhashNear` over a precomputed `(doc_id, simhash)` frame;
    * `directLimit` exposed so specs can force the component path.
    */
  private[graft] def simhashNearPairs(fp: DataFrame,
      directLimit: Double = DirectPairRowLimit): DataFrame = {
    val spark = fp.sparkSession
    // canonicalize identical fingerprints first (the minhash move, on
    // a LONG key so the groupBy is cheap): exact/near dups that hash
    // to the same 64 bits — the common case in a duplicated corpus —
    // collapse out of the pigeonhole join entirely; they re-expand as
    // hd=0 pairs, which the pre-canonical path also emitted (equal
    // fps share all four blocks)
    val groups = fp.select(col("doc_id"), col("simhash"))
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("rep"),
        count(lit(1)).as("n_members"),
        collect_list(col("doc_id")).as("members"))
      .materializeOnce(eager = true)
    val reps = groups.select(col("rep").as("doc_id"), col("simhash"))
    val banded = reps.select(col("doc_id"),
      explode(expr(
        // bucket = block_idx * 2^16 + block_value: block spaces stay
        // disjoint in one 18-bit key
        "transform(sequence(0, 3), b -> b * 65536 + (shiftrightunsigned(simhash, 16 * b) & 65535))"))
        .as("bucket"))
      .materializeOnce(eager = true)
    val repPairs = adaptivePairs(reps, banded, directLimit)
      .select(col("doc_id_a").as("rep_a"), col("doc_id_b").as("rep_b"),
        bit_count(expr("simhash_a ^ simhash_b")).cast("long").as("hd"))
      .filter(col("hd") <= 3)
    val memberOf = groups.select(col("rep"), explode(col("members")).as("m"))
    val cross = repPairs
      .join(memberOf.select(col("rep").as("rep_a"), col("m").as("ma")), "rep_a")
      .join(memberOf.select(col("rep").as("rep_b"), col("m").as("mb")), "rep_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("hd"))
    val dupMembers = groups.filter(col("n_members") > 1)
      .select(col("rep"), explode(col("members")).as("doc_id"))
    val np = spark.sessionState.conf.numShufflePartitions * 4
    val within = gridPairJoin(dupMembers, "doc_id", Seq("rep"),
        pairGridBlocks(dupMembers.count()), np)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        lit(0L).as("hd"))
    cross.unionByName(within)
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Incremental near-dup gate — the between-crawls shape a production
    * dedup pipeline actually runs: flag documents of a NEW batch
    * (doc_id % 5 == 0 plays the fresh crawl) that are Jaccard-0.5
    * near-duplicates of any EXISTING document, with the duplicate count
    * and the smallest matching existing id. Unlike `dedupMinhash` (full
    * self-dedup) this is a BIPARTITE join: at 100 TB the existing side
    * is the persisted `(doc_id, bucket)` index from the last run, and
    * only the new batch computes signatures.
    *
    * Implementation rides the shared machinery: both sides band
    * together with an `is_new` payload bit, `adaptivePairs` generates
    * candidates (direct bucket pairs, or star-edges → components → grid
    * when buckets run hot), mixed-side pairs filter BEFORE the exact
    * merge-walk verification, and one partial-agg + left join attaches
    * the verdict to every new document.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // ONE corpus scan with a computed side flag (two filtered reads
    // unioned would scan the parquet twice — doubled I/O at 100 TB)
    dedupIncrementalSets(Tables.documents(spark, dir)
      .select(col("doc_id"),
        sortedTokenSet.as("s"),
        (col("doc_id") % 5 === 0).as("is_new")))
  }

  /** `dedupIncremental` over arbitrary new-batch and existing-corpus
    * `(doc_id, text)` frames — the form the streaming gate feeds one
    * micro-batch at a time. doc_ids must be disjoint across the two
    * frames (they identify sides after the union). Both sides band per
    * call here; a production deployment persists the existing side's
    * `(doc_id, bucket)` index and signature frame between calls instead
    * of recomputing them.
    */
  def dedupIncrementalDocs(newDocs: DataFrame, existing: DataFrame): DataFrame = {
    GraftFunctions.register(newDocs.sparkSession)
    def side(docs: DataFrame, isNew: Boolean) = docs
      .select(col("doc_id"),
        sortedTokenSet.as("s"),
        lit(isNew).as("is_new"))
    dedupIncrementalSets(
      side(newDocs, isNew = true).unionByName(side(existing, isNew = false)))
  }

  /** Core of the incremental gate over a pre-flagged
    * `(doc_id, s, is_new)` signature frame.
    *
    * Canonicalizes identical sets first (the `minhashVerifiedPairs`
    * move — a group can span BOTH sides, a crawl re-fetching unchanged
    * pages), then exploits that the gate's output is per-new-doc
    * AGGREGATES: a new doc's dup count is the sum of matched groups'
    * old-member counts and its first dup the min of their min old ids,
    * so doc-level pair expansion never happens at all — banding,
    * candidates, and the merge-walk verify all run on distinct sets,
    * and two group-sized joins finish the job.
    */
  private def dedupIncrementalSets(flagged: DataFrame): DataFrame = {
    // width-pinned canonicalize + lazy pin — see minhashVerifiedPairs:
    // the repartition replaces the agg's own exchange and keeps the
    // checkpointed groups frame at session width; the eager banding pin
    // below materializes it in the same job
    val np = flagged.sparkSession.sessionState.conf.numShufflePartitions
    val groups = flagged
      .select(col("doc_id"), array_sort(col("s")).as("s"), col("is_new"))
      .repartition(np, col("s"))
      .groupBy("s")
      .agg(min(col("doc_id")).as("rep"),
        collect_list(when(col("is_new"), col("doc_id"))).as("new_members"),
        sum(when(col("is_new"), 0L).otherwise(1L)).as("n_old"),
        min(when(!col("is_new"), col("doc_id"))).as("min_old"))
      .materializeOnce()
    // side flags ride the pair machinery so only USEFUL group pairs —
    // one side contributing new docs, the other old — reach the
    // merge-walk verify (the doc-grain mixed filter, lifted to groups;
    // a group can carry both flags when a crawl re-fetches a page)
    // narrow view of the one pinned frame (see minhashVerifiedPairs)
    val sorted = groups.select(col("rep").as("doc_id"), col("s"),
      (size(col("new_members")) > 0).as("has_new"),
      (col("n_old") > 0).as("has_old"))
    val banded = sorted.select(col("doc_id"),
      explode(call_function("minhash_band_buckets", col("s"), lit(64))).as("bucket"))
      .materializeOnce(eager = true)
    val repPairs = adaptivePairs(sorted, banded)
      .filter((col("has_new_a") && col("has_old_b")) ||
        (col("has_old_a") && col("has_new_b")))
      .filter(sizeCompatible(col("s_a"), col("s_b")))
      .filter(call_function("sorted_intersect_ge05",
        col("s_a"), col("s_b")) >= 0)
      .select(col("doc_id_a").as("rep_a"), col("doc_id_b").as("rep_b"))
      // pinned: the symmetric union below references this frame TWICE,
      // and an unpinned reference would execute the whole candidate +
      // verify subtree once per branch. LAZY pin: the final action
      // computes the subtree once and checkpoints it inside that job —
      // an eager pin here only added one more driver-sequenced action
      .materializeOnce()
    // symmetric matched-group relation, self-match included (a group's
    // own old members are Jaccard-1 dups of its new members)
    val gstats = groups.select(col("rep"), col("n_old"), col("min_old"))
    val matches = repPairs.select(col("rep_a").as("rep"), col("rep_b").as("peer"))
      .unionByName(repPairs.select(col("rep_b").as("rep"), col("rep_a").as("peer")))
      .unionByName(gstats.select(col("rep"), col("rep").as("peer")))
      .join(gstats.select(col("rep").as("peer"), col("n_old"), col("min_old")),
        "peer")
      .groupBy("rep")
      .agg(sum(col("n_old")).as("n_dups"), min(col("min_old")).as("first_dup"))
    groups.select(explode(col("new_members")).as("doc_id"), col("rep"))
      .join(matches, "rep")
      .select(col("doc_id"), col("n_dups"), col("first_dup"),
        (col("n_dups") > 0).cast("int").as("is_dup"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Word-3-gram Jaccard ≥ 0.5 pairs. The gram sets come from ONE fused
    * native expression (hash tokens, combine each 3-token window, sort,
    * dedup — graft.functions.NgramHashSet): only 8-byte gram hashes ever
    * leave the scan, and the lambda stack it replaces (transform +
    * concat_ws + xxhash64 + array_distinct, interpreted at ~1 ms/doc)
    * is gone. Candidates come from the shared MinHash banding — not a
    * raw inverted-index self-join, whose hot "stop shingles" blow up
    * quadratically — and verification intersects the gram sets exactly.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val sets = Adaptive.spreadScan(spark, Tables.documents(spark, dir), dir, "documents")
      .select(col("doc_id"),
        call_function("ngram_hash_set", split(col("text"), " "), lit(3)).as("s"))
      .filter(size(col("s")) > 0)
    minhashVerifiedPairs(sets)
  }

  // --- embedding near-dup -------------------------------------------------

  import graft.sim.Vectors.{dot64, norm64}

  /** Embedding near-duplicate pairs, cosine ≥ 0.35.
    *
    * At this threshold sign-LSH CANNOT prune: a qualifying pair agrees
    * with a hyperplane w.p. p1 = 1-acos(0.35)/π ≈ 0.614 while an
    * unrelated pair (cos ≈ 0) agrees w.p. p2 = 0.5, so the LSH quality
    * exponent ρ = ln(1/p1)/ln(1/p2) ≈ 0.70 — any banding with near-zero
    * miss probability (required: the output must equal the all-pairs
    * oracle exactly) also retains ~all pairs as candidates. Measured: at
    * sf0.01, 124,747 of 124,750 possible pairs survive 40×2 banding.
    * Candidate generation would only add shuffles on top of O(n²) work.
    *
    * So the scalable-exact plan is a BLOCKED GRID — the distributed
    * matrix-product shape: vectors are hashed into B blocks, a tiny B²
    * cell grid broadcasts, and each grid cell equi-joins its two blocks.
    * Replication is O(n·B) narrow rows, every task computes an
    * (n/B)² dot-product tile in one codegen stage, and nothing
    * quadratic is ever shuffled — the O(n²) compute (unavoidable for
    * exact output at this threshold) is spread evenly across B² tasks
    * with no skew by construction. No BroadcastNestedLoopJoin, no
    * cartesian product (PlanAuditSpec asserts this).
    *
    * At production near-dup thresholds (cos ≥ 0.8, p1 ≈ 0.80, ρ ≈ 0.32)
    * hyperplane banding does prune by orders of magnitude — that path is
    * `Similarity.annLsh`'s bucketing, and `SimilaritySpec` pins its
    * recall.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    dedupEmbeddingExact(spark, dir)
  }

  /** Hard row bound for the exact-at-low-threshold embedding dedup. The
    * operator is O(n²) COMPUTE by contract (see `dedupEmbedding`): at
    * 1M 64-dim vectors that is ~5e11 dots ≈ 3e13 FLOPs — minutes on a
    * 1000-executor cluster and the sensible ceiling for an exact
    * baseline. Past it the job would not fail, it would RUN for days,
    * which is worse — so the guard fails loudly at construction time
    * and points at the sanctioned alternatives (`dedupEmbeddingLsh` at
    * production thresholds; an explicit sample for exact-at-0.35
    * estimates). Overridable by callers who have done that math.
    */
  private val EmbedExactMaxRows = 1000000L

  /** Blocked all-pairs grid (see `dedupEmbedding` doc). Also serves as
    * the exact reference the recall tests compare LSH variants against.
    * `maxRows` guards the quadratic contract — see `EmbedExactMaxRows`.
    */
  private[graft] def dedupEmbeddingExact(spark: SparkSession, dir: String,
      maxRows: Long = EmbedExactMaxRows): DataFrame = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .withColumn("norm", norm64("embedding"))
    // one narrow count (vec_id only after pruning) — the same statistic
    // the adaptive dedup paths gather before choosing a strategy
    val n = e.count()
    require(n <= maxRows,
      s"dedupEmbeddingExact is O(n²) by contract and got n=$n > maxRows=$maxRows; " +
        "use dedupEmbeddingLsh (cos >= 0.8) or run this on an explicit sample")
    val np = spark.sessionState.conf.numShufflePartitions
    gridPairJoin(e, "vec_id", Seq.empty, blocks = 16, np = np)
      .withColumn("cos6",
        round(dot64("embedding_a", "embedding_b") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos6") >= 0.35)
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("cos6"))
  }

  /** Cluster-blocked APPROXIMATE embedding near-dup — the SemDeDup
    * shape: train the IVF coarse quantizer (the SAME Lloyd machinery as
    * `Similarity.annIvf`), multi-assign every vector to its top-`assign`
    * centroid lists, and generate candidate pairs only WITHIN a list
    * (tiled by `gridPairJoin` grouped on the cluster id, so a
    * mega-cluster spreads over blocks² tasks), then verify with the
    * exact cosine. Output is therefore a SUBSET of `dedupEmbedding`'s
    * exact pairs (precision 1 by construction); recall is the
    * approximate part and is floor-pinned in DedupSpec.
    *
    * Honest scale posture (measured, sf0.01, 500 vectors / 271 true
    * pairs at cos ≥ 0.35): k=16/top-3 retains recall 0.88 while
    * generating 69.8k of the 124.8k exact pairs — only 1.8× pruning,
    * because at a threshold INSIDE the corpus cosine bulk (ρ ≈ 0.7) no
    * partitioning scheme can separate qualifying from non-qualifying
    * pairs (k=32/top-3 → 3.6× pruning at recall 0.75; k=8/top-3 →
    * recall 0.97 with NO pruning). That measurement is the quantitative
    * case for `dedupEmbedding`'s exact-grid contract at 0.35. The same
    * code prunes by orders of magnitude when the threshold sits above
    * the bulk — SemDeDup's regime (cos ≥ 0.9 semantic dups, tight
    * clusters): work is Σ m_c² ≈ n²·assign²/k, and k grows with n
    * (k ∝ n/target_cluster_size) so per-cluster work stays bounded and
    * total work is ~n·cluster_size — linear, not quadratic.
    */
  def dedupEmbeddingAnn(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingAnnFrom(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  /** [[dedupEmbeddingAnn]] over an arbitrary `(vec_id, embedding)`
    * frame. Non-finite vectors are gated here for the same reason as
    * `dedupEmbeddingLshFrom`: Lloyd training would fold a NaN into a
    * centroid and poison every assignment in that list.
    */
  def dedupEmbeddingAnnFrom(emb: DataFrame, threshold: Double = 0.35,
      k: Int = 16, assign: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val e = emb.select("vec_id", "embedding")
      .filter(expr(
        "NOT exists(embedding, x -> isnan(x) OR abs(x) = double('Infinity'))"))
      .withColumn("norm", norm64("embedding"))
      .materializeOnce(eager = true) // read by training + index + both grid sides
    val cents = graft.sim.Similarity.ivfCentroids(e, k)
    val members = graft.sim.Similarity.ivfMultiIndex(e, cents, assign).join(e, "vec_id")
    val np = spark.sessionState.conf.numShufflePartitions
    // tiles sized for the expected list (n·assign/k members), not the corpus
    val blocks = pairGridBlocks(e.count() * assign / k)
    gridPairJoin(members, "vec_id", Seq("cid"), blocks, np)
      .withColumn("cos6",
        round(dot64("embedding_a", "embedding_b") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos6") >= threshold)
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("cos6"))
      // a pair sharing ≥2 lists meets once per shared list; dedup the
      // VERIFIED survivors (bounded by true pairs), never the candidates
      .distinct()
  }

  /** [[dedupEmbeddingAnn]] served from the PERSISTED vector index —
    * SemDeDup near-dup pairs (cos ≥ 0.35) whose candidates are the
    * pairs sharing an inverted list in the SAME `ensureIvfPq` artifact
    * the ANN search queries. Unlike the per-call form (whose
    * in-process Lloyd training a SQL oracle cannot recompute), every
    * step here is deterministic over committed parquet: the DuckDB
    * oracle re-derives the candidate set from the lists file and
    * re-scores with the cosine_topk rounded-double fold, so the
    * embedding-dedup ANN path joins `ann_exact_rerank` under the hash
    * gate. Same skew-proof within-list 2-D grid as the per-call form;
    * per-pair work bounded by list occupancy, never corpus².
    */
  def dedupEmbeddingAnnIndexed(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val base = graft.sim.VectorIndexStore.ensureIvfPq(spark, dir)
    val lists = spark.read.parquet(s"$base/lists").select("vec_id", "cid")
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .withColumn("norm", norm64("embedding"))
      .materializeOnce(eager = true)
    val members = lists.join(e, "vec_id").materializeOnce(eager = true)
    val np = spark.sessionState.conf.numShufflePartitions
    // tiles sized for the expected list occupancy, not the corpus
    val blocks = pairGridBlocks(
      math.max(1L, members.count() / graft.sim.VectorIndexStore.IvfK))
    gridPairJoin(members, "vec_id", Seq("cid"), blocks, np)
      .withColumn("cos6",
        round(dot64("embedding_a", "embedding_b") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos6") >= 0.35)
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("cos6"))
      // a pair sharing ≥2 lists meets once per shared list; dedup the
      // VERIFIED survivors (bounded by true pairs), never the candidates
      .distinct()
  }

  /** Hyperplane-LSH bands/rows for `dedupEmbeddingLsh`. At the cos ≥ 0.8
    * production threshold a qualifying pair agrees with a random
    * hyperplane w.p. p1 = 1-acos(0.8)/π ≈ 0.795, so one 16-plane band
    * collides w.p. p1^16 ≈ 0.026 and the probability a qualifying pair
    * shares NONE of the 768 bands is (1-0.026)^768 ≈ 2e-9 — below the
    * 1e-8 bar the MinHash contract uses, so the verified output equals
    * the all-pairs oracle. An unrelated pair (cos ≈ 0) collides per
    * band w.p. 2^-16, keeping expected candidates ~b·n²/2^17 — the
    * orders-of-magnitude pruning that is IMPOSSIBLE at the exact-0.35
    * contract (ρ ≈ 0.70 there vs ≈ 0.33 here; see `dedupEmbedding`).
    */
  private val EmbedLshBands = 768
  private val EmbedLshRows = 16

  /** Embedding near-duplicate pairs at the PRODUCTION threshold
    * (cosine ≥ 0.8) — the scale path next to the exact-at-0.35 blocked
    * grid: sign-LSH banded candidates (Vectors.withBandBuckets, fused
    * native band packing) routed through the shared `adaptivePairs`
    * machinery, then exact re-scoring. Hash-checked against the
    * all-pairs oracle — the banding parameters make the miss
    * probability negligible (see `EmbedLshBands`), so this is
    * exact-in-practice with O(candidates) work instead of O(n²).
    *
    * The driver's synthetic embeddings top out near cosine 0.51, so at
    * this corpus the verified output (like the oracle's) is EMPTY — the
    * hash check pins the no-false-positive half; DedupSpec injects
    * perturbed near-duplicate vectors and pins the recall half against
    * the brute-force twin on a corpus that does have ≥ 0.8 pairs.
    */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingLshFrom(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  /** `dedupEmbeddingLsh` over an arbitrary `(vec_id, embedding)` frame.
    *
    * Non-finite vectors are gated out HERE, not just upstream: the
    * sparse plane-weight walk in `lsh_band_buckets` skips zero-weight
    * dimensions, so a NaN hiding in a skipped dimension would bucket
    * normally instead of poisoning the dot — i.e. banding does not
    * self-diagnose bad vectors. The filter is the same codegen'd
    * `exists` predicate `embedQc` flags with, scan-bound and
    * shuffle-free, so enforcing the precondition at the use site costs
    * one projection pass. (A NaN cosine could never pass the `>=`
    * verification filter anyway; the gate keeps bad vectors out of the
    * candidate machinery too, where they'd only waste bucket joins.)
    */
  def dedupEmbeddingLshFrom(emb: DataFrame, threshold: Double = 0.8): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    // repartition spreads the CPU-bound band-packing pass; checkpoint so
    // the banding, the bucket statistics, and the verification join do
    // not each recompute it (persist(DISK) off-local via Materialize).
    // The count is EXPLICIT: without it AQE byte-coalesces this narrow
    // exchange to one partition (2000 vectors ≈ 600 KB) and the 12k-
    // hyperplane band packing runs single-core through the pin
    // (measured 1.2 s on one task) — the r16 bitext lesson applied here
    val np = emb.sparkSession.sessionState.conf.numShufflePartitions
    val e = emb
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .filter(expr(
        "NOT exists(embedding, x -> isnan(x) OR abs(x) = double('Infinity'))"))
      .withColumn("norm", norm64("embedding"))
      .repartition(np, col("doc_id"))
      .materializeOnce(eager = true)
    val banded = graft.sim.Vectors
      .withBandBuckets(e.select("doc_id", "embedding"),
        bands = EmbedLshBands, rows = EmbedLshRows)
      .select(col("doc_id"), explode(col("bucket_arr")).as("bucket"))
      .materializeOnce(eager = true)
    adaptivePairs(e, banded)
      .withColumn("cos6",
        round(dot64("embedding_a", "embedding_b") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos6") >= threshold)
      .select(col("doc_id_a").as("vec_a"), col("doc_id_b").as("vec_b"), col("cos6"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive (see Indexing.searchDoc)
  }

  /** Brute-force blocked-grid twin of `dedupEmbeddingLshFrom` for an
    * arbitrary frame — the exact reference the recall specs compare
    * the LSH path against.
    */
  private[graft] def dedupEmbeddingExactFrom(emb: DataFrame,
      threshold: Double): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val e = emb.select("vec_id", "embedding").withColumn("norm", norm64("embedding"))
    val np = emb.sparkSession.sessionState.conf.numShufflePartitions
    gridPairJoin(e, "vec_id", Seq.empty, blocks = 16, np = np)
      .withColumn("cos6",
        round(dot64("embedding_a", "embedding_b") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos6") >= threshold)
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("cos6"))
  }

  /** Words per paragraph unit for `paraDedup`. Real corpora split on
    * newlines; the driver's documents are single-line word streams, so
    * the unit is a fixed word window — the machinery (hash, corpus
    * count, drop, reassemble) is identical either way.
    */
  private val ParaWords = 16

  /** Duplicated-SPAN detector — the positional complement of
    * [[paraDedup]]: find every maximal run of word n-grams that some
    * OTHER document also contains (cross-doc repeated spans at gram
    * granularity — quote farms, mirrored passages, licence text that
    * does not align to paragraph boundaries), reported per document
    * with its start token offset and token length. This is the
    * consumer the positional `ngram_hash_seq` expression exists for:
    * element k is the hash of the window AT TOKEN k, so duplicated
    * positions merge into spans with plain gaps-and-islands windows —
    * the set form's sort/dedup would destroy exactly that information.
    *
    * Cross-doc rule: a gram counts as duplicated only when it occurs
    * in ≥ 2 DISTINCT documents (within-doc repetition is
    * `repetition_stats`' business). The distinct-doc test is the
    * min≠max trick — one partial-agg shuffle on the gram hash, no
    * count-distinct expand, no (g, doc) pre-distinct pass.
    *
    * Scale shape: corpus text never shuffles — the explode emits
    * narrow (doc_id, pos, g) rows; the duplicated-gram set is
    * boilerplate-sized (HAVING-≥2 semantics); the island merge is one
    * window over the doc partition of the MATCHED positions only.
    * Gram identity is hash-based on both the Spark and oracle side of
    * the pipeline (as in `ngram_jaccard`: 64-bit collisions are
    * negligible at corpus vocabulary sizes — the oracle recomputes
    * from gram STRINGS, which 64-bit hashing represents faithfully).
    */
  def dupSpans(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    dupSpansDocs(Tables.documents(spark, dir), n)

  /** The shared gram prologue of the span family (`dupSpans`,
    * `spanTrim`, `spanTrimApply`): positional gram hashes and the
    * cross-doc duplicated grams with their canonical owner.
    * ≥2 distinct docs ⟺ min(doc_id) ≠ max(doc_id): one shuffle on g,
    * no count-distinct expand.
    */
  private def spanGrams(docs: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val grams = spanGramsOf(docs, n)
    val dupG = grams.groupBy("g")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select("g", "d0")
    (grams, dupG)
  }

  /** The positional-gram half of the prologue alone — `(doc_id, pos, g)`
    * narrow rows. [[SpanIndexStore]] reuses it per crawl batch, where
    * the duplicated-gram set comes from PERSISTED per-gram state
    * instead of a full-corpus aggregation.
    */
  private[dedup] def spanGramsOf(docs: DataFrame, n: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      posexplode(call_function("ngram_hash_seq",
        split(col("text"), " "), lit(n))).as(Seq("pos", "g")))
  }

  /** `dupSpans` over an arbitrary `(doc_id, text)` frame. */
  def dupSpansDocs(docs: DataFrame, n: Int = 3): DataFrame = {
    val (grams, dupG) = spanGrams(docs, n)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(dupG.select("g"), "g")
      // gaps-and-islands: consecutive duplicated positions share
      // (pos - row_number), so each maximal run is one group
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).as("n_grams"),
        max(col("pos")).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("long").as("span_start"),
        (col("span_end") - col("span_start") + n).cast("long").as("span_tokens"),
        col("n_grams"))
    // no global ORDER BY — output is span-count-sized; the driver compare is order-insensitive
  }

  /** Span-level dedup APPLIED — the trimming report [[dupSpans]] only
    * detects (the Lee et al. "Deduplicating Training Data" move:
    * remove repeated passages, keep the rest of the document). Rule:
    * FIRST OWNER KEEPS — a token is trimmed iff it is covered by a
    * cross-doc duplicated gram whose smallest containing doc_id is not
    * this doc. Ownership is PER GRAM: each duplicated gram keeps its
    * copy in its own lowest-id document, which preserves one copy of
    * every duplicated gram corpus-wide. Where overlapping passages
    * have DIFFERENT owners, a canonical copy of one passage can still
    * lose tokens to a neighbouring gram owned elsewhere — the
    * guarantee is per-gram survival, not per-passage document
    * immunity (the same trade Lee et al.'s span removal makes).
    * Output per document: token count, trimmed-token count (the UNION
    * of covering gram windows — overlapping and touching windows merge
    * via a running-max interval walk, so no token is counted twice),
    * merged span count, and the keep ratio.
    *
    * Scale shape: same as [[dupSpans]] — corpus text never shuffles
    * (narrow (doc_id, pos, g) rows), the duplicated-gram set is
    * boilerplate-sized, and both interval windows run over MATCHED
    * positions only. The final report is one row per document.
    */
  def spanTrim(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    spanTrimDocs(Tables.documents(spark, dir), n)

  /** The merged trim intervals behind [[spanTrim]] / [[spanTrimApply]]:
    * `(doc_id, s, e)` — maximal contiguous covered token runs under
    * the first-owner-keeps rule.
    */
  private def trimSpans(docs: DataFrame, n: Int): DataFrame = {
    val (grams, dupG) = spanGrams(docs, n)
    trimIntervals(grams.join(dupG, "g")
      .filter(col("doc_id") =!= col("d0"))
      .select("doc_id", "pos"), n)
  }

  /** The interval-union half of [[trimSpans]] over an arbitrary
    * `(doc_id, pos)` matched-position frame — shared with
    * [[SpanIndexStore]]'s per-batch pass, whose matches come from the
    * persisted gram state. Running-max union: a window [pos, pos+n-1]
    * starts a new merged span iff it leaves a gap after the furthest
    * coverage so far (pos > pmax + n; pos = pmax + n is touching —
    * same span).
    */
  private[dedup] def trimIntervals(m: DataFrame, n: Int): DataFrame = {
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    m
      .withColumn("pmax", max(col("pos")).over(wPrev))
      .withColumn("newgrp",
        when(col("pmax").isNull || col("pos") > col("pmax") + n, 1).otherwise(0))
      .withColumn("grp", sum(col("newgrp")).over(wCum))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (n - 1)).as("e"))
      .select("doc_id", "s", "e")
  }

  /** The per-document report tail of [[spanTrimDocs]] over prepared
    * `(doc_id, s, e)` trim intervals — shared with [[SpanIndexStore]].
    */
  private[dedup] def spanTrimReport(docs: DataFrame, intervals: DataFrame): DataFrame = {
    val spans = intervals
      .groupBy("doc_id")
      .agg(sum(col("e") - col("s") + 1).as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        round((col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
          .cast("double") / col("n_tokens"), 6).as("keep_ratio6"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive
  }

  /** `spanTrim` over an arbitrary `(doc_id, text)` frame. */
  def spanTrimDocs(docs: DataFrame, n: Int = 3): DataFrame =
    spanTrimReport(docs, trimSpans(docs, n))

  /** Span trimming APPLIED — the cleaned corpus itself, not just the
    * report: every trimmed document reassembled from its surviving
    * tokens in order (the Lee et al. apply step; `para_dedup`'s
    * positional sibling, same output convention — surviving token
    * count + md5 fingerprint of the reassembled text, so the
    * corpus-sized frame stays narrow under the driver compare while
    * pinning the exact output string).
    *
    * Scale shape: the trim intervals come from [[trimSpans]] (matched
    * positions only); the removal set explodes only COVERED positions
    * (output-sized); the token explode is the corpus scan every
    * text operator already pays, the anti-join removes covered
    * positions, and the reassembly is one struct-sort aggregation per
    * document — order restored without a window.
    */
  def spanTrimApply(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    spanTrimApplyDocs(Tables.documents(spark, dir), n)

  /** `spanTrimApply` over an arbitrary `(doc_id, text)` frame. */
  def spanTrimApplyDocs(docs: DataFrame, n: Int = 3): DataFrame = {
    val removed = trimSpans(docs, n)
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"))
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val kept = toks.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        // pos is unique per doc: the struct sort is a deterministic
        // in-order reassembly (the embed_centroid_stats centroid trick)
        expr("array_join(transform(array_sort(collect_list(struct(pos, w))), p -> p.w), ' ')")
          .as("t"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
        md5(coalesce(col("t"), lit(""))).as("clean_fp"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive
  }

  /** CCNet-style PARAGRAPH-level deduplication: drop every paragraph
    * that appears verbatim in two or more distinct documents (cross-doc
    * boilerplate — headers, footers, licence blocks, navigation chrome —
    * is the single largest contamination class in web corpora, and
    * doc-level dedup cannot touch it). Emits per doc the paragraph
    * count, the dropped count, and the md5 fingerprint of the retained
    * text, in original paragraph order.
    *
    * Scale shape: the corpus text NEVER shuffles. Paragraph hashing is a
    * map-side generate of narrow `(doc_id, ci, ph)` rows (16-byte md5 —
    * the same winnowing trick `doc_fingerprint` uses); the repeated-hash
    * set is a partial-agg distinct-count (HAVING ≥ 2 makes it
    * boilerplate-sized, orders of magnitude smaller than the corpus);
    * per-doc drop lists join that small set and come back as one narrow
    * frame joined to the document scan, where reassembly is a codegen'd
    * filter/transform projection. One text-bearing shuffle would have
    * been the naive groupBy(doc_id)-rebuild; this shape replaces it with
    * two narrow-row shuffles and a small-side join.
    *
    * Caveat on the no-text-shuffle claim: it holds while the per-doc
    * drop-list frame (docs CONTAINING boilerplate) fits the broadcast
    * threshold — beyond that the reassembly join falls back to
    * sort-merge and shuffles the tokenized text ONCE. On
    * boilerplate-saturated corpora where even that is too hot, swap the
    * reassembly for the fingerprint-of-kept-hashes form (concatenate
    * `ph` instead of `para` — doc_id-keyed narrow rows end-to-end); the
    * drop DECISIONS never shuffle text either way.
    */
  def paraDedup(spark: SparkSession, dir: String): DataFrame =
    paraDedupDocs(Tables.documents(spark, dir))

  /** `paraDedup` over an arbitrary `(doc_id, text)` frame. */
  def paraDedupDocs(docs: DataFrame, paraWords: Int = ParaWords): DataFrame = {
    require(paraWords >= 1, s"paraDedupDocs needs paraWords >= 1, got $paraWords")
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    // split("", " ") yields [""] (size 1), so size(w) >= 1 and the
    // sequence upper bound is always >= 0 — Spark's sequence() would
    // happily generate DESCENDING ranges for a negative bound
    val chunksExpr =
      s"""transform(sequence(0, CAST(ceil(size(w) / $paraWords.0) AS INT) - 1),
         |  i -> struct(i AS ci,
         |    array_join(slice(w, i * $paraWords + 1, $paraWords), ' ') AS para))""".stripMargin
    val paras = d
      .select(col("doc_id"), explode(expr(chunksExpr)).as("c"))
      .select(col("doc_id"), col("c.ci").as("ci"), md5(col("c.para")).as("ph"))
    val dupPh = paras.groupBy("ph")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("ph")
    val dropCis = paras.join(dupPh, "ph")
      .groupBy("doc_id").agg(collect_set(col("ci")).as("dropcis"))
    d.join(dropCis, Seq("doc_id"), "left")
      .withColumn("chunks", expr(chunksExpr))
      .withColumn("kept", expr(
        "filter(chunks, s -> dropcis IS NULL OR NOT array_contains(dropcis, s.ci))"))
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_paras"),
        (size(col("chunks")) - size(col("kept"))).cast("long").as("n_dup_paras"),
        md5(expr("array_join(transform(kept, s -> s.para), ' ')")).as("clean_fp"))
    // no global ORDER BY — corpus-sized output; the driver compare is order-insensitive
  }
}
