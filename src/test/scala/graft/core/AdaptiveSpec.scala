package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkSpec}
import graft.graph.Graph
import graft.text.Relevance

class AdaptiveSpec extends SparkSpec {

  /** A 1,000-row stream joined to a 10-row measured side chosen as if
    * it had `rows` rows, with the decisions recorded while choosing.
    */
  private def joinAt(rows: Long): (DataFrame, DataFrame, Seq[Decisions.Decision]) = {
    val stream = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
    val measured = spark.range(10).select(col("id").as("k"), (col("id") + 1).as("w"))
    Decisions.clear()
    val side = Adaptive.buildSide(rows, "spec.join")
    (stream.join(side(measured), "k"), side(measured), Decisions.snapshot())
  }

  private val cap = Adaptive.BroadcastCapRows

  test("buildSide broadcasts a side at or under the cap and records one decision") {
    val (out, _, ds) = joinAt(10L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    assert(ds == Seq(Decisions.Decision("spec.join", "broadcast", 10.0, cap.toDouble)))
    assert(out.count() == 10)
  }

  test("buildSide builds a shuffled hash table past the cap and records one decision") {
    val (out, side, ds) = joinAt(cap + 1)
    assert(side.queryExecution.logical.toString.contains("shuffle_hash"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(ds == Seq(Decisions.Decision("spec.join", "shuffle_hash", 2000001.0, 2000000.0)))
    assert(out.count() == 10)
  }

  test("buildSide leaves the join to the planner once a per-task hash table passes the cap") {
    val np = spark.sessionState.conf.numShufflePartitions
    val atBound = cap * np
    assert(joinAt(atBound)._3.map(_.choice) == Seq("shuffle_hash"))
    // no hint: the planner picks from its own statistics
    val (out, side, ds) = joinAt(atBound + 1)
    assert(!side.queryExecution.logical.toString.contains("shuffle_hash"),
      side.queryExecution.logical)
    assert(ds == Seq(Decisions.Decision("spec.join", "planner", (atBound + 1).toDouble,
      cap.toDouble)))
    assert(out.count() == 10)
  }

  test("pagerank, tfidf and the curation gates record their build-side sites") {
    def sitesOf(run: => Unit): Seq[Decisions.Decision] = {
      Decisions.clear()
      run
      Decisions.snapshot()
    }
    val joinSites = Set("tfidf.idfJoin", "rarity.idfJoin", "lm.modelJoin",
      "cc.labelJoin", "dedup.labelJoin", "pagerank.nodeJoin")
    def count(ds: Seq[Decisions.Decision], site: String) = ds.count(_.site == site)

    val pr = sitesOf(Graph.pagerankPpm(spark, sf).count())
    assert(count(pr, "pagerank.nodeJoin") == 1, pr)
    val tfidf = sitesOf(Relevance.tfidfTopK(spark, sf).count())
    assert(count(tfidf, "tfidf.idfJoin") == 1, tfidf)
    val gates = sitesOf(Pipeline.curateGates(spark, sf).decisions.count())
    assert(count(gates, "rarity.idfJoin") == 1, gates)
    assert(count(gates, "lm.modelJoin") == 1, gates)
    // one label-join choice per adaptivePairs call that took the
    // components branch
    assert(count(gates, "dedup.labelJoin") ==
      gates.count(d => d.site == "dedup.adaptivePairs" && d.choice == "components"), gates)

    (pr ++ tfidf ++ gates).filter(d => joinSites(d.site)).foreach { d =>
      assert(d.threshold == Adaptive.BroadcastCapRows.toDouble, d)
      assert(d.choice == (if (d.stat <= d.threshold) "broadcast" else "shuffle_hash"), d)
      // the sizes here stay far under the per-task bound
    }
  }
}
