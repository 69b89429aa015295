package graft.dedup

import scala.collection.mutable.LongMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Adaptive, Decisions}
import graft.core.Materialize.MatOps

/** Connected components by min-label: every node's label is the
  * smallest node id of its component.
  *
  * Round 0 contracts the edge set to a spanning forest (see
  * [[localForest]]; the edge contraction of Kiveris et al., "Connected
  * Components in MapReduce and Beyond"), pins it and counts it. The
  * measured forest size then picks the finish:
  *
  * - driver: a forest that fits the engine's broadcast row cap is
  *   collected and resolved by one union-find on the driver, and the
  *   labels come back as a local relation — exact statistics, so
  *   downstream joins broadcast them without a job. Each partition's
  *   forest has fewer edges than the graph has nodes (at sf0.01 the
  *   near-dup graph's 92k verified pairs over 487 docs contract to
  *   1,893 forest edges), so this is the common case, and it replaces
  *   a dozen or more driver-sequenced jobs with one collect.
  * - rounds: past the cap, distributed label rounds. Each round relaxes
  *   labels across the current edge set, pointer-jumps once, then
  *   contracts the graph by rewriting edges between labels and dropping
  *   intra-label self-loops. Contraction shrinks path lengths
  *   multiplicatively — plain relax+jump needs one round per chain hop
  *   (measured 13 rounds on a sparse n-gram collision graph, where
  *   contraction converges in ~4) — and the shrinking edge frame doubles
  *   as the convergence probe: labels are component-constant iff no
  *   contracted edge survives. A final pointer-chase expansion resolves
  *   members through the evolving map (depth halves per round). Every
  *   round frame is narrow (two longs) and pinned by materializeOnce so
  *   lineage never grows; each round still pays several driver-sequenced
  *   jobs (the pin's shuffle stages, which AQE runs at construction, and
  *   the probe count).
  */
object Components {

  /** Union-find root of `x` (a node absent from `parent` is its own
    * root), compressing the path it walked. [[union]] hangs the larger
    * root under the smaller, so a root is its component's minimum id.
    */
  private def find(parent: LongMap[Long], x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Join the components of `a` and `b`; false when they already were one. */
  private def union(parent: LongMap[Long], a: Long, b: Long): Boolean = {
    val (ra, rb) = (find(parent, a), find(parent, b))
    if (ra == rb) false else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
  }

  /** Per-partition spanning-forest contraction: a union-find pass over
    * each partition's edges that keeps only the edges joining two
    * previously-unconnected nodes WITHIN that partition. The kept edges
    * are a spanning forest of every partition-local subgraph, so global
    * connectivity is EXACTLY preserved (dropping an edge whose endpoints
    * a kept path already connects cannot change any component), while
    * the edge count drops from |E| to at most (distinct nodes per
    * partition − local components) per partition — node-bounded, not
    * edge-bounded. On the dense near-dup graph this is the difference
    * between CC over 8.9M verified pairs and CC over ~300k forest edges
    * at sf0.1; at 100 TB it is what keeps a billion-pair duplicate
    * clique from flooding the label rounds. The one imperative
    * `mapPartitions` is the textbook use of the escape hatch: per-
    * partition union-find state that no relational operator expresses.
    */
  private[graft] def localForest(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src"), col("dst")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = LongMap.empty[Long]
        it.filter { case (s, d) => union(parent, s, d) }
      }
      .toDF("src", "dst")
  }

  /** @param edges undirected edges as columns (`src`, `dst`)
    * @return (doc_id, lbl) for every node that appears in an edge;
    *         lbl = smallest node id in the component
    */
  def minLabels(edges: DataFrame): DataFrame =
    minLabels(edges, Adaptive.BroadcastCapRows)

  /** [[minLabels]] with the driver-finish row cap as a parameter: a test
    * seam (cap 0 forces the rounds), not a user option.
    */
  private[graft] def minLabels(edges: DataFrame, capRows: Long): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val symFull = e.select(col("src").as("doc_id"), col("dst").as("root"))
      .union(e.select(col("dst").as("doc_id"), col("src").as("root")))
      .filter(col("doc_id") =!= col("root"))
    minLabelsSym(symFull, e, cleanup = () => { e.unpersist(); () }, capRows)
  }

  /** [[minLabels]] over a PRE-SYMMETRIZED neighbour frame `(doc_id,
    * root)` plus the one-direction edge view `once (src, dst)` — the
    * entry the persisted pair graph feeds directly: when `symFull`
    * reads a table BUCKETED by `doc_id` (`Dedup.verifiedPairsSymCached`),
    * the rounds' |E|-sized min-neighbour aggregation — the one
    * edge-count-proportional exchange in the cluster family — needs NO
    * shuffle at all; everything after it is forest/label-sized.
    * `cleanup` runs once nothing reads the input frames any more (the
    * wrapper's unpersist hook). `capRows` caps the driver finish; the
    * default is the engine's broadcast row cap.
    */
  private[graft] def minLabelsSym(symFull: DataFrame, once: DataFrame,
      cleanup: () => Unit = () => (),
      capRows: Long = Adaptive.BroadcastCapRows): DataFrame = {
    // the full count materializes every partition of the pin in one job
    // (an eager pin measured one job more per call, see Materialize)
    val forest = localForest(once).materializeOnce()
    val forestRows = forest.count()
    // a forest of E edges spans at most 2E nodes, so under this test both
    // the collected edges and the emitted labels stay under the cap
    val driver = 2 * forestRows <= capRows
    Decisions.record("cc.finish", if (driver) "driver" else "rounds",
      forestRows.toDouble, capRows.toDouble)
    if (driver) {
      cleanup()
      driverFinish(forest)
    } else rounds(symFull, forest, cleanup)
  }

  /** One min-root union-find over the collected forest; every node of
    * the forest gets its root as label.
    */
  private def driverFinish(forest: DataFrame): DataFrame = {
    val spark = forest.sparkSession
    import spark.implicits._
    val edges = forest.as[(Long, Long)].collect()
    val parent = LongMap.empty[Long]
    edges.foreach { case (s, d) => union(parent, s, d) }
    Decisions.record("cc.minLabels", "rounds=0,jumps=0", 0.0, 64.0)
    edges.iterator.flatMap { case (s, d) => Iterator(s, d) }.distinct
      .map(v => (v, find(parent, v))).toSeq
      .toDF("doc_id", "lbl")
  }

  /** The distributed finish over the pinned round-0 forest. */
  private def rounds(symFull: DataFrame, forest: DataFrame,
      cleanup: () => Unit): DataFrame = {
    // Round 0 splits the work by what each side is good at:
    // - l0 = min(v, min neighbour) streams the FULL edge set through one
    //   aggregation without materializing it — on dense graphs (8.9M
    //   verified pairs over 5k docs at sf0.1) this collapses cliques to
    //   their minimum in a single pass, the property that makes hash-to-
    //   min converge in 1-2 rounds. An eager checkpoint of the raw
    //   symmetric frame measured 95 s and left GC pressure that slowed
    //   every later query in the session; the aggregation never stores it.
    // - the CONTRACTED remainder comes from the spanning forest, so the
    //   relabel+distinct and every later round touch at most
    //   nodes-per-partition edges, not |E|.
    // Later frames pin lazily, which under AQE still runs each pin's
    // shuffle stages at construction and leaves only its final stage to
    // the full count() that follows; a full count (not a limit(1) probe)
    // guarantees every checkpointed partition is computed in that job
    // rather than left for the next round to finish.
    val l0 = symFull.groupBy("doc_id").agg(min("root").as("nbr"))
      .select(col("doc_id"), least(col("doc_id"), col("nbr")).as("lbl"))
      .materializeOnce()
    // The label frame has exactly one row per node — a count over the
    // checkpointed frame fixes the build side for EVERY later round
    // (label row count never changes). Small label frames broadcast, so
    // a dense edge graph is relabelled map-side instead of being shuffled
    // twice per join; past the cap (billions of nodes at 100 TB) the
    // label sides build shuffled hash tables, or take the planner's join
    // once a per-task table would pass it (Adaptive.buildSide).
    val build = Adaptive.buildSide(l0.count(), "cc.labelJoin")
    // the count read the input frames for the last time
    cleanup()
    def contract(edges: DataFrame, labels: DataFrame): DataFrame = edges
      .join(build(labels.select(col("doc_id").as("ea"), col("lbl").as("la"))),
        col("doc_id") === col("ea"))
      .join(build(labels.select(col("doc_id").as("eb"), col("lbl").as("lb"))),
        col("root") === col("eb"))
      .select(col("la").as("doc_id"), col("lb").as("root"))
      .filter(col("doc_id") =!= col("root"))
      .distinct()
      .materializeOnce()
    val sym0 = forest.select(col("src").as("doc_id"), col("dst").as("root"))
      .union(forest.select(col("dst").as("doc_id"), col("src").as("root")))
      .filter(col("doc_id") =!= col("root"))
    var sym = contract(sym0, l0)
    var labels = l0
    var converged = sym.count() == 0
    var iter = 0
    while (!converged && iter < 64) {
      val viaEdges = sym
        .join(build(labels.select(col("doc_id").as("nb"), col("lbl").as("nlbl"))),
          col("root") === col("nb"))
        .groupBy("doc_id").agg(min("nlbl").as("nlbl"))
      val relaxed = labels.join(viaEdges, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      val next = relaxed
        .join(build(labels.select(col("doc_id").as("pj"), col("lbl").as("pjl"))),
          relaxed("lbl") === col("pj"), "left")
        .select(relaxed("doc_id"),
          least(relaxed("lbl"), coalesce(col("pjl"), relaxed("lbl"))).as("lbl"))
        .materializeOnce()
      sym = contract(sym, next)
      converged = sym.count() == 0
      labels = next
      iter += 1
    }
    // an under-merged component graph would silently corrupt downstream
    // grouping — fail loudly instead (64 contraction rounds cover any graph)
    require(converged, s"component labelling did not converge in $iter rounds")

    // expansion: members relaxed only through stale pointers during
    // contraction, so chase lbl ← lbl(lbl) through the EVOLVING map until
    // idempotent (depth halves per round)
    var stable = false
    var jumps = 0
    while (!stable && jumps < 64) {
      val mapSide = build(labels.select(col("doc_id").as("mj"), col("lbl").as("mlbl")))
      val j = labels.join(mapSide, col("lbl") === col("mj"), "left")
        .select(col("doc_id"), col("lbl").as("old"),
          coalesce(col("mlbl"), col("lbl")).as("lbl"))
        .materializeOnce()
      stable = j.filter(col("lbl") =!= col("old")).count() == 0
      labels = j.drop("old")
      jumps += 1
    }
    require(stable, s"label expansion did not stabilize in $jumps rounds")
    // not a switch: the contraction and jump round counts, with the
    // contraction rounds as the stat against the 64-round cap
    Decisions.record("cc.minLabels", s"rounds=$iter,jumps=$jumps",
      iter.toDouble, 64.0)
    labels
  }
}
