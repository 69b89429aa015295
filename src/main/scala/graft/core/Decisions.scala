package graft.core

import scala.jdk.CollectionConverters._

/** Session-wide log of the engine's adaptive physical-strategy
  * decisions (the statistics-driven switches that mirror AQE's runtime
  * re-planning): LSH candidate generation (direct pairs ↔
  * star-edges→CC→grid), the CC finish (driver union-find ↔ label
  * rounds), the indexed dedup gate (broadcast-bipartite ↔ shared
  * adaptive machinery), and every join build side chosen from a
  * measured count (broadcast ↔ shuffle-hash ↔ the planner's join, all
  * against the one cap `Adaptive.BroadcastCapRows`, recorded by
  * `Adaptive.buildSide`):
  * `tfidf.idfJoin`, `rarity.idfJoin`, `lm.modelJoin`, `cc.labelJoin`,
  * `dedup.labelJoin` and `pagerank.nodeJoin`.
  *
  * Purely observational — recording never changes a plan. Exists so
  * operators' scale behaviour is AUDITABLE: a bench/diagnostic run can
  * state which branch each query took at a given corpus size instead of
  * inferring it from wall time (`tools.QueryProfile` prints each run's
  * decisions), and specs can pin the expected branch.
  *
  * A bounded in-memory queue, not a Spark accumulator: every chooser
  * runs driver-side (the statistics are collected scalars), so plain
  * JVM state is sufficient and survives across sessions.
  */
object Decisions {

  /** One recorded switch: `stat` is the measured statistic the chooser
    * compared against `threshold` to pick `choice` at `site`.
    */
  final case class Decision(site: String, choice: String,
      stat: Double, threshold: Double)

  private val MaxEntries = 4096
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[Decision]()

  def record(site: String, choice: String, stat: Double,
      threshold: Double): Unit = {
    q.add(Decision(site, choice, stat, threshold))
    // bound driver memory for arbitrarily long sessions; diagnostics
    // that care snapshot() promptly after the query they instrument
    while (q.size() > MaxEntries) q.poll()
  }

  def clear(): Unit = q.clear()

  def snapshot(): Seq[Decision] = q.iterator().asScala.toSeq
}
