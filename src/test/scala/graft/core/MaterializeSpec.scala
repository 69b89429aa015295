package graft.core

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The cluster-materialization switch: every operator that pins shared
  * frames must compute IDENTICAL results when `spark.graft.materialize`
  * routes those pins through reliable `checkpoint` (the cluster mode)
  * instead of `localCheckpoint` (the local default). Exercises one
  * representative of each checkpoint-heavy family: adaptive dedup + CC
  * (dedupMinhash/dedupCluster), the range-partition pin (shardPack),
  * IVF-PQ training (annIvfPq), and the BPE merge loop (bpeTrain).
  */
class MaterializeSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def inCheckpointMode[T](body: => T): T = {
    spark.conf.set("spark.graft.materialize", "checkpoint")
    try body
    finally spark.conf.unset("spark.graft.materialize")
  }

  test("forced checkpoint mode computes identical results across operator families") {
    val fns: Seq[(String, () => DataFrame)] = Seq(
      "dedup_minhash" -> (() => graft.dedup.Dedup.dedupMinhash(spark, sf)),
      "dedup_cluster" -> (() => graft.dedup.Dedup.dedupCluster(spark, sf)),
      "shard_pack" -> (() => graft.curate.Curate.shardPack(spark, sf)),
      "ann_ivf_pq" -> (() => graft.sim.Similarity.annIvfPq(spark, sf)),
      // the trainer LOOP directly — the public bpeLearn serves the
      // frozen persisted model, which would dodge checkpoint mode
      "bpe_train" -> (() => {
        val sqlc = spark.sqlContext; import sqlc.implicits._
        graft.text.TextOps.bpeTrain(spark, sf, 10)._2
          .toDF("merge_rank", "merge_left", "merge_right", "pair_count")
      }))
    val local = fns.map { case (n, f) => n -> rows(f()) }
    val ckpt = inCheckpointMode { fns.map { case (n, f) => n -> rows(f()) } }
    local.zip(ckpt).foreach { case ((n, l), (_, p)) =>
      assert(l == p, s"$n diverged between localCheckpoint and checkpoint modes")
      assert(l.nonEmpty, s"$n returned no rows")
    }
  }

  test("checkpoint-mode pin computes its subtree exactly once") {
    import spark.implicits._
    // a bare reliable checkpoint(eager) runs TWO jobs over the lineage
    // (the triggering count + the checkpoint-write job); the
    // persist-then-checkpoint idiom must bring that back to one
    // computation, with later consumers reading checkpoint blocks.
    val acc = spark.sparkContext.longAccumulator("subtree-evals")
    val base = spark.range(0, 1000, 1, 4).as[Long]
      .map { x => acc.add(1); x }.toDF("v")
    val pinned = inCheckpointMode { Materialize.once(base, eager = true) }
    assert(acc.value == 1000L,
      s"pin computed the subtree ${acc.value / 1000.0}x (expected exactly 1x)")
    assert(pinned.count() == 1000L &&
      pinned.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) == 499500L)
    assert(acc.value == 1000L, "a consumer re-ran lineage past the pin")
  }

  test("checkpoint-mode pin is always eager (no CacheManager leak) and computes once") {
    // the lazy flag is deliberately IGNORED in reliable-checkpoint mode:
    // a lazy pin would have to keep its transient DISK_ONLY cache
    // registered in the session CacheManager until some first action,
    // and CacheManager holds a strong reference for the session
    // lifetime — the leak ADVICE r9 flagged. The contract is now:
    // construction materializes exactly once, the transient cache is
    // unpersisted immediately, and consumers read checkpoint blocks.
    // (Plan-construction laziness for audit tooling lives in the
    // localCheckpoint mode those tools run under.)
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("lazy-subtree-evals")
    val base = spark.range(0, 1000, 1, 4).as[Long]
      .map { x => acc.add(1); x }.toDF("v")
    val pinned = inCheckpointMode { Materialize.once(base, eager = false) }
    assert(acc.value == 1000L,
      s"pin computed the subtree ${acc.value / 1000.0}x at construction (expected exactly 1x)")
    assert(spark.sharedState.cacheManager
      .lookupCachedData(base.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isEmpty,
      "transient pin cache leaked a CacheManager entry")
    assert(pinned.count() == 1000L)
    assert(acc.value == 1000L, "a consumer re-ran lineage past the pin")
    assert(pinned.count() == 1000L)
    assert(acc.value == 1000L, "a later consumer re-ran lineage past the pin")
  }

  test("a lazy local pin runs its shuffle stages at construction and defers only the final stage") {
    import spark.implicits._
    val mapSide = spark.sparkContext.longAccumulator("lazy-map-side")
    val finalSide = spark.sparkContext.longAccumulator("lazy-final-stage")
    val base = spark.range(0, 1000, 1, 4).as[Long]
      .map { x => mapSide.add(1); x }
      .repartition(3)
      .map { x => finalSide.add(1); x }.toDF("v")
    val pinned = Materialize.once(base)
    assert(mapSide.value == 1000L, "the shuffle stage did not run at construction")
    assert(finalSide.value == 0L, "the final stage ran before the first action")
    assert(pinned.count() == 1000L)
    assert(mapSide.value == 1000L && finalSide.value == 1000L)
  }

  test("unknown materialize mode fails loudly") {
    spark.conf.set("spark.graft.materialize", "magic")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.dedup.Dedup.dedupMinhash(spark, sf).collect()
      }
      assert(e.getMessage.contains("spark.graft.materialize"))
    } finally spark.conf.unset("spark.graft.materialize")
  }
}
