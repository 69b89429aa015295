package graft.core

import graft.SparkSpec
import graft.dedup.Dedup

class DecisionsSpec extends SparkSpec {

  test("record/snapshot preserves order; clear empties; queue is bounded") {
    Decisions.clear()
    Decisions.record("a", "x", 1.0, 2.0)
    Decisions.record("b", "y", 3.0, 4.0)
    assert(Decisions.snapshot() === Seq(
      Decisions.Decision("a", "x", 1.0, 2.0),
      Decisions.Decision("b", "y", 3.0, 4.0)))
    (1 to 5000).foreach(i => Decisions.record("s", "c", i.toDouble, 0.0))
    assert(Decisions.snapshot().size <= 4096)
    Decisions.clear()
    assert(Decisions.snapshot().isEmpty)
  }

  test("the adaptive-pairs chooser records its branch with the measured stat") {
    Decisions.clear()
    Dedup.dedupMinhash(spark, sf).limit(1).count()
    val ds = Decisions.snapshot().filter(_.site == "dedup.adaptivePairs")
    assert(ds.nonEmpty, "adaptivePairs ran without recording a decision")
    ds.foreach { d =>
      assert(d.choice == "direct" || d.choice == "components")
      // the recorded pair stands in the relation that picked the branch
      assert((d.choice == "direct") === (d.stat <= d.threshold))
    }
  }
}
