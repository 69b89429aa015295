package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Decisions
import graft.core.Materialize.MatOps

/** Distributed connected components by min-label propagation with edge
  * contraction (hash-to-min style, cf. Kiveris et al. "Connected
  * Components in MapReduce and Beyond").
  *
  * Each round: relax labels across the current edge set, pointer-jump
  * once, then contract the graph by rewriting edges between labels and
  * dropping intra-label self-loops. Contraction shrinks path lengths
  * multiplicatively — plain relax+jump needs one round per chain hop
  * (measured 13 rounds on a sparse n-gram collision graph, each paying
  * a full Spark job's latency; contraction converges in ~4) — and the
  * shrinking edge frame doubles as the convergence probe: labels are
  * component-constant iff no contracted edge survives. A final
  * pointer-chase expansion resolves members through the evolving map
  * (depth halves per round) so every node's label is its component's
  * minimum id — the unique node with lbl(m) = m. One Spark job per
  * round; all frames are narrow (two longs) and pinned by materializeOnce so
  * lineage never grows.
  */
object Components {

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
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.filter { case (s, d) =>
          val (rs, rd) = (find(s), find(d))
          if (rs == rd) false else { parent(math.max(rs, rd)) = math.min(rs, rd); true }
        }
      }
      .toDF("src", "dst")
  }

  /** @param edges undirected edges as columns (`src`, `dst`)
    * @return (doc_id, lbl) for every node that appears in an edge;
    *         lbl = smallest node id in the component
    */
  def minLabels(edges: DataFrame, nodesHint: Long = -1L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val symFull = e.select(col("src").as("doc_id"), col("dst").as("root"))
      .union(e.select(col("dst").as("doc_id"), col("src").as("root")))
      .filter(col("doc_id") =!= col("root"))
    minLabelsSym(symFull, e, cleanup = () => { e.unpersist(); () },
      nodesHint = nodesHint)
  }

  /** [[minLabels]] over a PRE-SYMMETRIZED neighbour frame `(doc_id,
    * root)` plus the one-direction edge view `once (src, dst)` — the
    * entry the persisted pair graph feeds directly: when `symFull`
    * reads a table BUCKETED by `doc_id` (`Dedup.verifiedPairsSymCached`),
    * round 0's |E|-sized min-neighbour aggregation — the one
    * edge-count-proportional exchange in the cluster family — needs NO
    * shuffle at all; everything after it is forest/label-sized.
    * `cleanup` runs once the round-0 frames are pinned (the wrapper's
    * unpersist hook). `nodesHint` is an optional UPPER bound on the node
    * count (any count the caller already paid for — e.g. the item count
    * adaptivePairs takes for its grid sizing): the hint only steers the
    * label-join strategy, and an upper bound errs toward shuffle-hash —
    * never toward an oversized broadcast — so reusing it drops one
    * driver-sequenced count job per CC call without risking the join.
    */
  private[graft] def minLabelsSym(symFull: DataFrame, once: DataFrame,
      cleanup: () => Unit = () => (), nodesHint: Long = -1L): DataFrame = {
    // Round 0 splits the work by what each side is good at:
    // - l0 = min(v, min neighbour) streams the FULL edge set through one
    //   aggregation without materializing it — on dense graphs (8.9M
    //   verified pairs over 5k docs at sf0.1) this collapses cliques to
    //   their minimum in a single pass, the property that makes hash-to-
    //   min converge in 1-2 rounds. An eager checkpoint of the raw
    //   symmetric frame measured 95 s and left GC pressure that slowed
    //   every later query in the session; the aggregation never stores it.
    // - the CONTRACTED remainder comes from the spanning forest
    //   (localForest — node-bounded, connectivity-exact), so the
    //   relabel+distinct and every later round touch at most
    //   nodes-per-partition edges, not |E|.
    // Round-0 frames pin LAZILY and the convergence probe is a full
    // count(): one job materializes l0 (its own count below, when no
    // hint), and one more materializes forest + the contracted sym —
    // the eager-pin + limit-probe shape ran four driver-sequenced jobs
    // for the same result (measured: the serial construction chain, not
    // the verify stage, dominates the dedup family's wall at sf0.1).
    // Full counts also guarantee every lazily-checkpointed partition is
    // computed in one job — a limit(1) probe could leave a partial
    // checkpoint for the next round to finish.
    val l0 = symFull.groupBy("doc_id").agg(min("root").as("nbr"))
      .select(col("doc_id"), least(col("doc_id"), col("nbr")).as("lbl"))
      .materializeOnce()
    val forest = localForest(once).materializeOnce()
    val sym0 = forest.select(col("src").as("doc_id"), col("dst").as("root"))
      .union(forest.select(col("dst").as("doc_id"), col("src").as("root")))
      .filter(col("doc_id") =!= col("root"))
    // The label frame has exactly one row per node — a count over the
    // checkpointed frame is one narrow scan and fixes the join strategy
    // for EVERY later round (label row count never changes). Small label
    // frames broadcast, so a dense edge graph (8.9M verified pairs over
    // 5k docs at sf0.1) is relabelled map-side instead of being shuffled
    // twice per join; past the broadcast budget (billions of nodes at
    // 100 TB) the joins fall back to shuffle-hash — still sort-free,
    // which matters because the checkpointed frames have no stats and
    // the planner would otherwise sort-merge the full edge stream.
    val nNodes = if (nodesHint >= 0L) nodesHint else l0.count()
    Decisions.record("cc.labelJoin",
      if (nNodes <= 1000000L) "broadcast" else "shuffle_hash",
      nNodes.toDouble, 1000000.0)
    def labelSide(df: DataFrame): DataFrame =
      if (nNodes <= 1000000L) broadcast(df) else df.hint("shuffle_hash")
    var sym = sym0
      .join(labelSide(l0.select(col("doc_id").as("ea"), col("lbl").as("la"))),
        col("doc_id") === col("ea"))
      .join(labelSide(l0.select(col("doc_id").as("eb"), col("lbl").as("lb"))),
        col("root") === col("eb"))
      .select(col("la").as("doc_id"), col("lb").as("root"))
      .filter(col("doc_id") =!= col("root"))
      .distinct()
      .materializeOnce()
    var labels = l0
    // the probe materializes l0 + forest + sym in ONE job; cleanup only
    // after it — the persisted edge view is read inside that job
    var converged = sym.count() == 0
    cleanup()
    var iter = 0
    while (!converged && iter < 64) {
      val viaEdges = sym
        .join(labelSide(labels.select(col("doc_id").as("nb"), col("lbl").as("nlbl"))),
          col("root") === col("nb"))
        .groupBy("doc_id").agg(min("nlbl").as("nlbl"))
      val relaxed = labels.join(viaEdges, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      val next = relaxed
        .join(labelSide(labels.select(col("doc_id").as("pj"), col("lbl").as("pjl"))),
          relaxed("lbl") === col("pj"), "left")
        .select(relaxed("doc_id"),
          least(relaxed("lbl"), coalesce(col("pjl"), relaxed("lbl"))).as("lbl"))
        .materializeOnce()
      sym = sym
        .join(labelSide(next.select(col("doc_id").as("ea"), col("lbl").as("la"))),
          col("doc_id") === col("ea"))
        .join(labelSide(next.select(col("doc_id").as("eb"), col("lbl").as("lb"))),
          col("root") === col("eb"))
        .select(col("la").as("doc_id"), col("lb").as("root"))
        .filter(col("doc_id") =!= col("root"))
        .distinct()
        .materializeOnce()
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
      val mapSide = labelSide(labels.select(col("doc_id").as("mj"), col("lbl").as("mlbl")))
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
