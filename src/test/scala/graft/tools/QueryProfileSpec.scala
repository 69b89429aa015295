package graft.tools

import graft.SparkSpec
import graft.core.Decisions

class QueryProfileSpec extends SparkSpec {

  private lazy val listener = {
    val l = new QueryProfile.Listener
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  test("a dedup_minhash record counts its jobs and stages and carries its decision") {
    val r = QueryProfile.profile(spark, sf, "dedup_minhash", 1, listener)
    assert(r.error.isEmpty)
    assert(r.jobs >= 1)
    assert(r.tasks >= r.stages && r.stages >= r.singleTaskStages)
    assert(r.topStages.size == math.min(r.stages, 15))
    assert(r.decisions.exists(_.site == "dedup.adaptivePairs"))
    assert(QueryProfile.json(r).contains("\"single_task_stages\":"))
  }

  test("q5_join's pre-execution plan broadcasts") {
    val r = QueryProfile.profile(spark, sf, "q5_join", 1, listener)
    assert(r.plan.exists(_.bhj >= 1))
  }

  test("a warm run of an entry compiles no generated code") {
    QueryProfile.profile(spark, sf, "q1_agg", 1, listener)
    val warm = QueryProfile.profile(spark, sf, "q1_agg", 2, listener)
    assert(warm.error.isEmpty)
    assert(warm.codegenCompiles == 0)
    assert(QueryProfile.json(warm).contains("\"codegen_compiles\":0"))
  }

  test("listener state does not grow across runs") {
    val r1 = QueryProfile.profile(spark, sf, "q5_join", 1, listener)
    assert(listener.stages.size == r1.stages)
    val r2 = QueryProfile.profile(spark, sf, "q5_join", 2, listener)
    assert(listener.stages.size == r2.stages)
    assert(Decisions.snapshot() == r2.decisions)
    listener.reset()
    assert(listener.stages.isEmpty && listener.jobs == 0)
  }

  test("Components.minLabels records its round counts") {
    val sql = spark.sqlContext
    import sql.implicits._
    Decisions.clear()
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val labels = graft.dedup.Components.minLabels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    val ds = Decisions.snapshot().filter(_.site == "cc.minLabels")
    assert(ds.size == 1)
    assert(ds.head.choice.matches("rounds=\\d+,jumps=\\d+"))
  }
}
