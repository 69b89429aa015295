package graft.dedup

import graft.SparkSpec
import graft.core.{Adaptive, Decisions}

/** Seeded random-graph property check: the distributed labelling must
  * equal a driver-side union-find on arbitrary topologies (chains,
  * cliques, stars, isolated pairs all arise at these densities).
  */
class ComponentsSpec extends SparkSpec {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(v => v -> find(v)).toMap
  }

  test("minLabels equals a driver union-find on seeded random graphs") {
    val sql = spark.sqlContext
    import sql.implicits._
    val rnd = new scala.util.Random(1234)
    (1 to 4).foreach { trial =>
      val nNodes = 20 + rnd.nextInt(60)
      val nEdges = 5 + rnd.nextInt(3 * nNodes)
      val edges = Seq.fill(nEdges) {
        val a = rnd.nextInt(nNodes).toLong
        var b = rnd.nextInt(nNodes).toLong
        while (b == a) b = rnd.nextInt(nNodes).toLong
        (a, b)
      }
      val expected = unionFind(edges)
      // the default driver finish, then the label rounds forced by cap 0
      Seq(Adaptive.BroadcastCapRows, 0L).foreach { cap =>
        val got = Components
          .minLabels(edges.toDF("src", "dst").repartition(5), cap)
          .collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("lbl"))
          .toMap
        assert(got == expected, s"trial $trial, cap $cap: component labels diverge")
      }
    }
  }

  test("cc.finish records the driver finish with the forest size, and the forced rounds") {
    val sql = spark.sqlContext
    import sql.implicits._
    // a 4-clique and a chain: the per-partition forest keeps 3 + 2 edges
    // when every edge sits in one partition
    val clique = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val edges = (clique ++ Seq((10L, 11L), (11L, 12L))).toDF("src", "dst").coalesce(1)
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    def finish(cap: Long): (Map[Long, Long], Seq[Decisions.Decision]) = {
      Decisions.clear()
      val got = Components.minLabels(edges, cap).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (got, Decisions.snapshot())
    }
    val (driverLabels, driverDs) = finish(Adaptive.BroadcastCapRows)
    assert(driverLabels == expected)
    val d = driverDs.filter(_.site == "cc.finish")
    assert(d.map(x => (x.choice, x.stat, x.threshold)) ==
      Seq(("driver", 5.0, Adaptive.BroadcastCapRows.toDouble)))
    assert(driverDs.filter(_.site == "cc.minLabels").map(_.choice) == Seq("rounds=0,jumps=0"))
    assert(!driverDs.exists(_.site == "cc.labelJoin"))
    val (roundLabels, roundDs) = finish(0L)
    assert(roundLabels == expected)
    assert(roundDs.filter(_.site == "cc.finish").map(x => (x.choice, x.stat)) ==
      Seq(("rounds", 5.0)))
    assert(roundDs.exists(_.site == "cc.labelJoin"))
  }
}
