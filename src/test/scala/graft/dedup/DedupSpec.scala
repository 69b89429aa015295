package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("dedup_exact covers all docs with keep_id the minimum of each group") {
    val rows = Dedup.dedupExact(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_copies")).sum == 500L)
  }

  test("dedup_minhash verified pairs satisfy the exact Jaccard threshold") {
    val rows = Dedup.dedupMinhash(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (i, u) = (r.getAs[Long]("inter"), r.getAs[Long]("uni"))
      2 * i >= u && i <= u && r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")
    })
  }

  test("dedup_minhash LSH equals the exact all-pairs result at this scale") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("t"))
    val exact = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        size(array_intersect(col("a.t"), col("b.t"))).as("i"),
        (size(col("a.t")) + size(col("b.t"))).as("s"))
      .filter(lit(2) * col("i") >= col("s") - col("i"))
      .count()
    assert(Dedup.dedupMinhash(spark, sf).count() == exact)
  }

  test("dedup_threshold_stats matches a driver brute-force threshold sweep") {
    val got = Dedup.dedupThresholdStats(spark, sf).collect()
    assert(got.map(_.getAs[Long]("t10")).toSeq == (5L to 10L))
    // driver recompute: exact all-pairs Jaccard over distinct token sets
    val sets = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSet)
    val pairs = for {
      i <- sets.indices; j <- (i + 1) until sets.length
      inter = (sets(i)._2 intersect sets(j)._2).size
      uni = sets(i)._2.size + sets(j)._2.size - inter
      if 2 * inter >= uni
    } yield (sets(i)._1, sets(j)._1, 10L * inter / uni)
    val docMax = pairs.flatMap(p => Seq(p._1 -> p._3, p._2 -> p._3))
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).max }
    got.foreach { r =>
      val t = r.getAs[Long]("t10")
      val nP = pairs.count(_._3 >= t).toLong
      val nD = docMax.count(_ >= t).toLong
      assert(r.getAs[Long]("n_pairs_ge") == nP, s"t10=$t pairs")
      assert(r.getAs[Long]("n_docs_ge") == nD, s"t10=$t docs")
      assert(r.getAs[Long]("flagged_ppm") == 1000000L * nD / sets.length)
    }
    // the table must be monotone non-increasing in t by construction
    val ps = got.map(_.getAs[Long]("n_pairs_ge"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b })
  }

  test("set canonicalization is exact under heavy injected exact duplication") {
    // clone every doc 0..99 three times under fresh ids: the distinct-set
    // groups now carry real member lists, so BOTH expansion paths
    // (within-group J=1 grid, cross-group member fan-out) move real rows
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").filter(col("doc_id") < 100)
    val cloned = docs
      .unionByName(docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(docs.select((col("doc_id") + 20000).as("doc_id"), col("text")))
    val sets = cloned.select(col("doc_id"),
      expr("transform(array_distinct(split(text, ' ')), t -> xxhash64(t))").as("s"))
    val got = Dedup.minhashVerifiedPairs(sets).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("uni"))).toSet
    // driver all-pairs oracle over the cloned corpus
    val toks = cloned.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").distinct.toSet).toMap
    val ids = toks.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = toks(ids(i)); b = toks(ids(j))
      inter = (a intersect b).size.toLong
      uni = a.size + b.size - inter
      if 2 * inter >= uni
    } yield (ids(i), ids(j), inter, uni)).toSet
    assert(got == want)
    // the clones genuinely exercised the within-group path
    assert(want.exists { case (a, b, i, u) => i == u && b - a == 10000 })
  }

  test("dedup_incremental equals the self-dedup pairs restricted to new x old") {
    val mixed = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a % 5 == 0) (a, b) else (b, a) }
    val expected = mixed.groupBy(_._1).map { case (n, ps) =>
      n -> (ps.length.toLong, ps.map(_._2).min)
    }
    val rows = Dedup.dedupIncremental(spark, sf).collect()
    assert(rows.length == 100) // 500 docs, every fifth is "new"
    assert(expected.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      expected.get(id) match {
        case Some((n, fd)) =>
          assert(r.getAs[Long]("n_dups") == n)
          assert(r.getAs[Long]("first_dup") == fd)
          assert(r.getAs[Int]("is_dup") == 1)
        case None =>
          assert(r.getAs[Long]("n_dups") == 0L)
          assert(r.isNullAt(r.fieldIndex("first_dup")))
          assert(r.getAs[Int]("is_dup") == 0)
      }
    }
  }

  test("dedup_incremental via the persisted index equals the per-call gate row-for-row") {
    val docs = graft.core.Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-mh-idx").toString + "/idx"
    MinhashIndexStore.build(docs.filter(col("doc_id") % 5 =!= 0), base)
    // drop the catalog entries: the loaded path must restore bucketed
    // reads from the persisted files alone, as a fresh session would
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_mhidx_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    // a 20% "batch" sits past the small-batch crossover: this exercises
    // the union + adaptivePairs strategy over the LOADED artifacts
    val viaIndexDf = MinhashIndexStore
      .dedupIncrementalAgainstIndex(docs.filter(col("doc_id") % 5 === 0), base)
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dups"),
          if (r.isNullAt(r.fieldIndex("first_dup"))) -1L else r.getAs[Long]("first_dup"),
          r.getAs[Int]("is_dup")))
    }.toMap
    val viaIndex = asMap(viaIndexDf.collect())
    val direct = asMap(Dedup.dedupIncremental(spark, sf).collect())
    assert(viaIndex.size == 100)
    assert(viaIndex == direct)
    assert(viaIndex.values.exists(_._3 == 1)) // the corpus does have dups
    val plan = viaIndexDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))

    // SMALL batch (well under the crossover): the broadcast-bipartite
    // strategy over bucketed index scans, same verdicts as the in-memory
    // bipartite operator on identical inputs
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val tinyNew = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 100)
    val smallDf = MinhashIndexStore.dedupIncrementalAgainstIndex(tinyNew, base)
    val small = asMap(smallDf.collect())
    val smallDirect = asMap(
      Dedup.dedupIncrementalDocs(tinyNew, existing).collect())
    assert(small.nonEmpty && small == smallDirect)
    // bipartite plan: the index comes back as bucketed scans and the
    // existing corpus never re-bands
    val smallPlan = smallDf.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount".r.findAllIn(smallPlan).length >= 2,
      "expected bucketed scans for sets and banded")
    assert(!smallPlan.contains("CartesianProduct"))
    assert(!smallPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("deleteFromIndex tombstones: gate == rebuilt-without, re-append resists, compact resurrects") {
    val docs = graft.core.Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-mh-del").toString + "/idx"
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    MinhashIndexStore.build(existing, base)
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dups"),
          if (r.isNullAt(r.fieldIndex("first_dup"))) -1L else r.getAs[Long]("first_dup"),
          r.getAs[Int]("is_dup")))
    }.toMap
    // delete a third of the indexed corpus
    val delCond = col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0
    MinhashIndexStore.deleteFromIndex(docs.filter(delCond).select("doc_id"), base)
    val viaDeleted = asMap(
      MinhashIndexStore.dedupIncrementalAgainstIndex(batch, base).collect())
    // band rows are per-doc, so delete-then-gate equals gating against
    // the in-memory bipartite operator on the surviving corpus exactly
    val survivors = existing.filter(col("doc_id") % 3 =!= 0)
    val direct = asMap(Dedup.dedupIncrementalDocs(batch, survivors).collect())
    assert(viaDeleted == direct)
    // the delete changed something (some dup verdicts relied on deleted docs)
    val before = asMap(Dedup.dedupIncrementalDocs(batch, existing).collect())
    assert(viaDeleted != before, "delete slice removed no dup sources — widen it")
    // idempotent
    MinhashIndexStore.deleteFromIndex(docs.filter(delCond).select("doc_id"), base)
    assert(asMap(MinhashIndexStore.dedupIncrementalAgainstIndex(batch, base)
      .collect()) == viaDeleted)
    // re-appending deleted docs is a no-op: physical rows still exist
    MinhashIndexStore.appendToIndex(docs.filter(delCond), base)
    assert(asMap(MinhashIndexStore.dedupIncrementalAgainstIndex(batch, base)
      .collect()) == viaDeleted)
    // compact: physical removal, gate unchanged; then re-append resurrects
    MinhashIndexStore.compactIndex(spark, base)
    assert(asMap(MinhashIndexStore.dedupIncrementalAgainstIndex(batch, base)
      .collect()) == viaDeleted)
    MinhashIndexStore.appendToIndex(docs.filter(delCond), base)
    assert(asMap(MinhashIndexStore.dedupIncrementalAgainstIndex(batch, base)
      .collect()) == before)
  }

  test("cluster-label tombstones re-select the min live survivor per cluster") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-lbl-del").toString + "/idx"
    MinhashIndexStore.buildClusterLabels(spark, sf, base)
    val full = MinhashIndexStore.clusterFromLabels(spark, base).collect()
    // delete every current SURVIVOR of a multi-doc cluster — the
    // hardest case: the next-smallest live member must take over
    val delIds = full.filter(r => r.getAs[Int]("keep") == 1 &&
      r.getAs[Long]("cluster_size") > 1).map(_.getAs[Long]("doc_id"))
    assert(delIds.nonEmpty, "corpus has no multi-doc clusters")
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    MinhashIndexStore.deleteFromIndex(delIds.toSeq.toDF("doc_id"), base)
    val after = MinhashIndexStore.clusterFromLabels(spark, base).collect()
    val deleted = delIds.toSet
    assert(after.forall(r => !deleted.contains(r.getAs[Long]("doc_id"))))
    // driver recompute over live members: min id survives, sizes live
    val liveByCluster = full
      .filter(r => !deleted.contains(r.getAs[Long]("doc_id")))
      .groupBy(_.getAs[Long]("cluster"))
    after.foreach { r =>
      val members = liveByCluster(r.getAs[Long]("cluster")).map(_.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("cluster_size") == members.length.toLong)
      assert((r.getAs[Int]("keep") == 1) == (r.getAs[Long]("doc_id") == members.min))
    }
    // every surviving multi-doc cluster re-selected exactly one survivor
    assert(after.groupBy(_.getAs[Long]("cluster"))
      .forall { case (_, rs) => rs.count(_.getAs[Int]("keep") == 1) == 1 })
    // compaction folds the tombstones in; derivation output unchanged
    MinhashIndexStore.compactLabels(spark, base)
    assert(MinhashIndexStore.clusterFromLabels(spark, base).collect()
      .map(_.toString).sorted.sameElements(after.map(_.toString).sorted))
  }

  test("appendLabels assigns a monotone-id batch incrementally, matching a driver union-find") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf)
    val tmpCorpus = java.nio.file.Files
      .createTempDirectory("graft-lblappend-corpus").toString
    // crawl 1: ids < 400 (monotone-id contract: the batch is all-above)
    docs.filter(col("doc_id") < 400).write
      .parquet(s"$tmpCorpus/documents.parquet")
    val lblBase = java.nio.file.Files
      .createTempDirectory("graft-lblappend").toString + "/lbl"
    val bandBase = java.nio.file.Files
      .createTempDirectory("graft-bandappend").toString + "/band"
    MinhashIndexStore.buildClusterLabels(spark, tmpCorpus, lblBase)
    MinhashIndexStore.build(docs.filter(col("doc_id") < 400), bandBase)
    val before = MinhashIndexStore.clusterFromLabels(spark, lblBase).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    val batchIds = (400L until 500L).toSet
    MinhashIndexStore.appendLabels(
      docs.filter(col("doc_id") >= 400), lblBase, bandBase)
    val got = MinhashIndexStore.clusterFromLabels(spark, lblBase).collect()
    assert(got.length == 500)
    val gotMap = got.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    // old labels byte-identical
    before.foreach { case (id, c) => assert(gotMap(id) == c) }
    // driver recompute: exact-Jaccard union-find over batch∪matched-clusters
    // (banding finds every >= 0.5 pair at this corpus scale — pinned by
    // the LSH-equals-exact spec above)
    val toks = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSet).toMap
    def near(a: Long, b: Long): Boolean = {
      val (x, y) = (toks(a), toks(b))
      val i = (x intersect y).size
      2 * i >= x.size + y.size - i
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for (n <- batchIds; o <- before.keys if near(n, o)) union(n, before(o))
    for (a <- batchIds; b <- batchIds if a < b && near(a, b)) union(a, b)
    batchIds.foreach { id => assert(gotMap(id) == find(id),
      s"doc $id: got ${gotMap(id)}, expected ${find(id)}") }
    // survivors: min live id per cluster — old survivors keep theirs
    got.groupBy(_.getAs[Long]("cluster")).foreach { case (_, rs) =>
      val min = rs.map(_.getAs[Long]("doc_id")).min
      rs.foreach(r => assert((r.getAs[Int]("keep") == 1) ==
        (r.getAs[Long]("doc_id") == min)))
    }
    // idempotent replay: physical guard skips every id
    MinhashIndexStore.appendLabels(
      docs.filter(col("doc_id") >= 400), lblBase, bandBase)
    assert(MinhashIndexStore.clusterFromLabels(spark, lblBase).count() == 500)
  }

  test("dedup_cluster_incremental serves the appended label store; reloads are value-identical") {
    val first = MinhashIndexStore.dedupClusterIncremental(spark, sf).collect()
    assert(first.length == 500)
    // the crawl split is live in the output: batch docs joined existing
    // clusters (some cluster labels < 400 carry members >= 400)
    assert(first.exists(r => r.getAs[Long]("doc_id") >= 400 &&
      r.getAs[Long]("cluster") < 400), "no batch doc joined an old cluster")
    assert(first.exists(r => r.getAs[Long]("doc_id") >= 400 &&
      r.getAs[Long]("cluster") >= 400), "no batch-only cluster")
    // exactly one survivor per cluster, the min id
    first.groupBy(_.getAs[Long]("cluster")).foreach { case (_, rs) =>
      val min = rs.map(_.getAs[Long]("doc_id")).min
      rs.foreach(r => assert((r.getAs[Int]("keep") == 1) ==
        (r.getAs[Long]("doc_id") == min)))
    }
    // second call LOADS the persisted store — value-identical
    val second = MinhashIndexStore.dedupClusterIncremental(spark, sf).collect()
    assert(second.map(_.toString).sorted.sameElements(first.map(_.toString).sorted))
  }

  test("simhash_near block join finds exactly the all-pairs hd<=3 set") {
    val fp = Dedup.simhashFp(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val expected = (for {
      (a, ha) <- fp; (b, hb) <- fp if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashNear(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == expected)
  }

  test("simhash_fp uses the full 64-bit range") {
    val rows = Dedup.simhashFp(spark, sf).collect()
    assert(rows.length == 500)
    // fingerprint entropy must reach the high word (the whole point of
    // the 64-bit upgrade: 4×65,536 pigeonhole keys instead of 4×256)
    assert(rows.count(r => (r.getAs[Long]("simhash") >>> 32) != 0L) > 450)
  }

  test("simhash_near candidate paths (direct / components+grid) agree") {
    val fp = Dedup.simhashFp(spark, sf).localCheckpoint()
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hd"))).toSet
    val direct = pairSet(Dedup.simhashNearPairs(fp, directLimit = Double.MaxValue))
    val dense = pairSet(Dedup.simhashNearPairs(fp, directLimit = -1.0))
    assert(direct.nonEmpty)
    assert(direct == dense)
  }

  test("ngram_jaccard pairs are symmetric-free and above threshold") {
    val rows = Dedup.ngramJaccard(spark, sf).collect()
    assert(rows.forall { r =>
      2 * r.getAs[Long]("inter") >= r.getAs[Long]("uni")
    })
  }

  test("dedup_embedding pairs are all >= 0.35 cosine") {
    val rows = Dedup.dedupEmbedding(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("cos6") >= 0.35))
  }

  test("dedup_embedding blocked grid equals a driver-side all-pairs oracle") {
    // independent oracle: brute-force all pairs on the driver (test scale)
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
      .sortBy(_._1)
    val expected = (for {
      i <- vecs.indices.iterator; j <- (i + 1) until vecs.length
      (ia, va) = vecs(i); (ib, vb) = vecs(j)
      dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x.toDouble).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x.toDouble).sum)
      cos6 = BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos6 >= 0.35
    } yield (ia, ib, cos6)).toSet
    val got = Dedup.dedupEmbedding(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"), r.getAs[Double]("cos6")))
      .toSet
    assert(got == expected)
  }

  test("dedup_embedding_lsh matches all-pairs on the corpus (no false positives)") {
    // the driver corpus has no >= 0.8 pairs (max cosine ~0.51), so both
    // sides are empty — this pins the no-false-positive half
    val exact = Dedup.dedupEmbeddingExact(spark, sf)
      .filter(col("cos6") >= 0.8)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos6"))).toSet
    val lsh = Dedup.dedupEmbeddingLsh(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos6"))).toSet
    assert(lsh == exact)
  }

  test("dedup_embedding_lsh finds injected near-duplicates exactly (recall half)") {
    // inject perturbed clones (per-dimension ±15% scaling, cosine ~0.99
    // to the original) so the corpus HAS >= 0.8 pairs, then require the
    // LSH path to equal the brute-force grid on the union
    val base = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
    val clones = base.filter(col("vec_id") < 30)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
               CAST(x * (1.0 + 0.15 * CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END) AS FLOAT))""")
          .as("embedding"))
    val union = base.unionByName(clones)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos6"))).toSet
    val exact = pairSet(Dedup.dedupEmbeddingExactFrom(union, 0.8))
    val lsh = pairSet(Dedup.dedupEmbeddingLshFrom(union))
    assert(exact.size >= 30)
    assert(lsh == exact)
  }

  test("dedup_embedding_ann is a subset of exact pairs with recall above floor") {
    // precision 1 by construction (exact cosine verification), recall
    // approximate: measured 0.84-0.88 at k=16/top-3 on this corpus
    // (see dedupEmbeddingAnn doc) — floor 0.75 leaves margin for
    // float-sum order differences in Lloyd training
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos6"))).toSet
    val exact = pairSet(Dedup.dedupEmbedding(spark, sf))
    val ann = pairSet(Dedup.dedupEmbeddingAnn(spark, sf))
    assert(ann.subsetOf(exact), "ANN produced a pair the exact grid did not")
    assert(exact.nonEmpty)
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.75, s"recall $recall below floor 0.75 (${ann.size}/${exact.size})")
  }

  test("dedup_embedding_ann finds injected near-duplicates at the SemDeDup threshold") {
    // the regime the cluster-blocked path is FOR: threshold above the
    // corpus cosine bulk (0.8 vs max ~0.48), tight clone clusters —
    // measured recall 30/30 here while candidate work stays Σ m_c²
    val base = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
    val clones = base.filter(col("vec_id") < 30)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
               CAST(x * (1.0 + 0.15 * CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END) AS FLOAT))""")
          .as("embedding"))
    val union = base.unionByName(clones)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos6"))).toSet
    val exact = pairSet(Dedup.dedupEmbeddingExactFrom(union, 0.8))
    val ann = pairSet(Dedup.dedupEmbeddingAnnFrom(union, threshold = 0.8))
    assert(exact.size >= 30)
    assert(ann.subsetOf(exact))
    assert(ann.size.toDouble / exact.size >= 0.9,
      s"high-threshold recall ${ann.size}/${exact.size} below 0.9")
  }

  test("dedup_embedding_ann_indexed: precision 1 vs exact, recall-floored, grid-joined plan") {
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos6"))).toSet
    val exact = pairSet(Dedup.dedupEmbedding(spark, sf))
    val ann = pairSet(Dedup.dedupEmbeddingAnnIndexed(spark, sf))
    assert(ann.subsetOf(exact), "indexed ANN produced a pair the exact grid did not")
    // the persisted index multi-assigns top-2 (vs the per-call form's
    // 3), so the floor sits a notch lower
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall below floor 0.6 (${ann.size}/${exact.size})")
    val plan = Dedup.dedupEmbeddingAnnIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("dedup_embedding_ann plan has no nested-loop or cartesian join") {
    val plan = Dedup.dedupEmbeddingAnn(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("dedup_embedding fails loudly past its declared O(n²) row bound") {
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupEmbeddingExact(spark, sf, maxRows = 10L)
    }
    assert(e.getMessage.contains("O(n²)"))
    assert(e.getMessage.contains("dedupEmbeddingLsh"))
  }

  test("dedup_embedding plan has no nested-loop or cartesian join") {
    val plan = Dedup.dedupEmbedding(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("dedup_minhash plan never shuffles token arrays through the band join") {
    val plan = Dedup.dedupMinhash(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("both candidate paths (direct pairs / components+grid) produce identical output") {
    val sets = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr("transform(array_distinct(split(text, ' ')), t -> xxhash64(t))").as("s"))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("uni"))).toSet
    // directLimit -1 forces the component path; MaxValue forces direct
    val dense = pairSet(Dedup.minhashVerifiedPairs(sets, directLimit = -1.0))
    val direct = pairSet(Dedup.minhashVerifiedPairs(sets, directLimit = Double.MaxValue))
    assert(dense.nonEmpty)
    assert(dense == direct)
  }

  test("dedup_cluster groups exactly the verified-pair components") {
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val rows = Dedup.dedupCluster(spark, sf).collect()
    val cluster = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    // covers every doc exactly once
    assert(rows.length == 500 && cluster.size == 500)
    // paired docs share a cluster
    assert(pairs.forall { case (a, b) => cluster(a) == cluster(b) })
    // driver-side union-find oracle: same partition, min representative
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    cluster.keys.foreach(d => parent(d) = d)
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    cluster.keys.foreach { d => assert(cluster(d) == find(d)) }
    // keep flag marks exactly the representative, sizes are consistent
    val bySize = rows.groupBy(_.getAs[Long]("cluster"))
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_size") ==
        bySize(r.getAs[Long]("cluster")).length)
      assert((r.getAs[Int]("keep") == 1) ==
        (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster")))
    }
  }

  test("dedup_cluster_best keeps exactly the highest-quality doc per cluster") {
    val rows = Dedup.dedupClusterBest(spark, sf).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    assert(byCluster.values.forall { g =>
      val maxScore = g.map(_.getAs[Int]("score")).max
      val expectKeep = g.filter(_.getAs[Int]("score") == maxScore)
        .map(_.getAs[Long]("doc_id")).min
      val keepers = g.filter(_.getAs[Int]("keep") == 1)
      keepers.length == 1 &&
        keepers.head.getAs[Long]("doc_id") == expectKeep &&
        g.forall(_.getAs[Long]("best_doc") == expectKeep)
    })
    // the cluster map itself is dedup_cluster's, unchanged
    val base = Dedup.dedupCluster(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"))).toSet
    assert(rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster")))
      .toSet == base)
  }

  test("dedup_cluster_best_indexed equals the per-call path and never re-bands") {
    val plain = Dedup.dedupClusterBest(spark, sf)
    val indexed = MinhashIndexStore.dedupClusterBestIndexed(spark, sf)
    assert(indexed.exceptAll(plain).count() == 0 &&
      plain.exceptAll(indexed).count() == 0)
    // load-not-recompute: clusters come from the persisted label index —
    // no signature hashing, no banding in the plan. (The QUALITY score is
    // a declared linear text scan, so documents.parquet legitimately
    // appears once — what must be gone is the minhash chain.)
    val plan = MinhashIndexStore.dedupClusterBestIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("minhash_band_buckets"),
      s"indexed cluster-best re-bands:\n$plan")
    assert(!plan.contains("sorted_intersect_count"),
      s"indexed cluster-best re-verifies pairs:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"indexed cluster-best not reading the bucketed label index:\n$plan")
  }

  test("mhindex_stats recounts the persisted band index exactly") {
    val stats = MinhashIndexStore.mhindexStats(spark, sf).collect()
    val base = graft.core.IndexScratch.scratchBase(sf, "minhash")
    val banded = spark.read.parquet(s"$base/banded")
    val hist = banded.groupBy("bucket").count().collect()
      .map(_.getLong(1)).groupBy(identity)
      .map { case (s, xs) => s -> xs.length.toLong }
    assert(stats.nonEmpty && stats.length == hist.size)
    // histogram-sized output arrives sorted by size class
    assert(stats.map(_.getAs[Long]("bucket_size")).toSeq ==
      stats.map(_.getAs[Long]("bucket_size")).sortBy(identity).toSeq)
    stats.foreach { r =>
      val s = r.getAs[Long]("bucket_size")
      assert(r.getAs[Long]("n_buckets") == hist(s))
      assert(r.getAs[Long]("n_rows") == s * hist(s))
      assert(r.getAs[Long]("est_pairs") == hist(s) * s * (s - 1) / 2)
    }
    // every index row is accounted for in exactly one size class
    assert(stats.map(_.getAs[Long]("n_rows")).sum == banded.count())
  }

  test("dedup_cluster_stats recounts dedup_cluster and never re-bands") {
    val stats = MinhashIndexStore.dedupClusterStats(spark, sf).collect()
    val sizes = Dedup.dedupCluster(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("cluster_size")))
      .distinct
    val hist = sizes.groupBy(_._2).map { case (s, xs) => s -> xs.length.toLong }
    val total = sizes.map(_._2).sum
    assert(stats.nonEmpty && stats.length == hist.size)
    stats.foreach { r =>
      val s = r.getAs[Long]("cluster_size")
      assert(r.getAs[Long]("n_clusters") == hist(s))
      assert(r.getAs[Long]("n_docs") == s * hist(s))
      assert(r.getAs[Long]("dup_ppm") ==
        1000000L * (s * hist(s) - hist(s)) / total)
    }
    // every doc lands in exactly one size class
    assert(stats.map(_.getAs[Long]("n_docs")).sum == total)
    // load-not-recompute: clusters come from the persisted label index
    val plan = MinhashIndexStore.dedupClusterStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("minhash_band_buckets"),
      s"cluster stats re-bands:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"cluster stats not reading the bucketed label index:\n$plan")
  }

  test("localForest preserves components and node coverage on a crafted graph") {
    val sql = spark.sqlContext
    import sql.implicits._
    // two components (a 5-clique 0-4 and a chain 10-13) plus a
    // self-loop-only node, scattered across partitions so the
    // per-partition union-find sees arbitrary slices
    val clique = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((10L, 11L), (11L, 12L), (12L, 13L))
    val edges = (clique ++ chain ++ Seq((20L, 20L)))
      .toDF("src", "dst").repartition(7)
    val forest = Components.localForest(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // forest edges are a subset of the real input edges
    assert(forest.toSet.subsetOf((clique ++ chain).toSet))
    // the default driver finish, then the label rounds forced by cap 0
    Seq(graft.core.Adaptive.BroadcastCapRows, 0L).foreach { cap =>
      val labels = Components.minLabels(edges, cap).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("lbl"))).toMap
      assert((0L to 4L).forall(labels(_) == 0L))
      assert((10L to 13L).forall(labels(_) == 10L))
      // the self-loop-only node vanishes (no real edge), as before
      assert(!labels.contains(20L))
    }
  }

  test("dupSpans merges consecutive shared grams into maximal cross-doc spans") {
    val sql = spark.sqlContext
    import sql.implicits._
    // docs 1 and 2 share the 5-token run "a b c d e" (three 3-grams at
    // positions 0..2 in doc 1, 2..4 in doc 2) and nothing else; doc 3
    // repeats ITS OWN trigram twice but shares nothing cross-doc; doc 4
    // is fully unique.
    val docs = Seq(
      (1L, "a b c d e x y z w"),
      (2L, "q r a b c d e s t"),
      (3L, "p p p m n p p p o"),
      (4L, "unique words only here never repeated elsewhere")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpansDocs(docs, n = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_tokens"), r.getAs[Long]("n_grams"))).toSet
    // one maximal span per sharing doc: grams 0-2 in doc 1 (tokens 0..4),
    // grams 2-4 in doc 2 (tokens 2..6); no spans for docs 3 and 4
    assert(got == Set((1L, 0L, 5L, 3L), (2L, 2L, 5L, 3L)))
  }

  test("paraDedup drops cross-doc repeated paragraphs, keeps within-doc repeats") {
    val sql = spark.sqlContext
    import sql.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // 4-word paragraphs. Docs 1 and 2 share "shared boiler plate text";
    // doc 3 repeats its own paragraph twice but shares nothing across
    // docs; doc 4 is all-unique.
    val docs = Seq(
      (1L, "shared boiler plate text unique one content here"),
      (2L, "other lead in words shared boiler plate text"),
      (3L, "self repeat chunk here self repeat chunk here"),
      (4L, "completely unique words that nobody else wrote")
    ).toDF("doc_id", "text")
    val got = Dedup.paraDedupDocs(docs, paraWords = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_paras"), r.getAs[Long]("n_dup_paras"),
          r.getAs[String]("clean_fp")))).toMap
    // docs 1-2: the shared paragraph drops, the rest survives in order
    assert(got(1L) == ((2L, 1L, md5hex("unique one content here"))))
    assert(got(2L) == ((2L, 1L, md5hex("other lead in words"))))
    // doc 3: repeated WITHIN one doc only — ≥2 distinct docs is the
    // boilerplate rule, so nothing drops
    assert(got(3L) == ((2L, 0L,
      md5hex("self repeat chunk here self repeat chunk here"))))
    assert(got(4L) == ((2L, 0L,
      md5hex("completely unique words that nobody else wrote"))))
  }

  test("spanTrim: first owner keeps, later copies trim the interval union") {
    val sql = spark.sqlContext
    import sql.implicits._
    // doc 0 owns every shared passage (lowest id). doc 1 embeds the
    // 5-token run "a b c d e" once; doc 2 embeds it twice with a
    // 2-token gap (two merged spans); doc 4 matches two OVERLAPPING
    // gram windows (positions 0 and 2 — "b c q" between them is
    // unshared), which must merge into ONE span with no double-count.
    val docs = Seq(
      (0L, "a b c d e f g h c q e"),
      (1L, "x1 x2 x3 a b c d e y1 y2 y3"),
      (2L, "a b c d e q1 q2 a b c d e"),
      (4L, "a b c q e m1 m2")
    ).toDF("doc_id", "text")
    val got = Dedup.spanTrimDocs(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("n_spans"), r.getAs[Double]("keep_ratio6"))))
      .toMap
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // the canonical doc is never cut
    assert(got(0L) == ((11L, 0L, 0L, 1.0)))
    // tokens 3..7 covered by grams at 3,4,5 — one span of 5
    assert(got(1L) == ((11L, 5L, 1L, r6(6.0 / 11.0))))
    // both copies trim (doc 2 is not the owner): [0,4] and [7,11]
    assert(got(2L) == ((12L, 10L, 2L, r6(2.0 / 12.0))))
    // windows [0,2] and [2,4] overlap at token 2: one span of 5
    assert(got(4L) == ((7L, 5L, 1L, r6(2.0 / 7.0))))

    // the APPLY step reassembles exactly the surviving tokens in order
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val applied = Dedup.spanTrimApplyDocs(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_fp")))).toMap
    assert(applied(0L) == ((11L, 11L, md5hex("a b c d e f g h c q e"))))
    assert(applied(1L) == ((11L, 6L, md5hex("x1 x2 x3 y1 y2 y3"))))
    assert(applied(2L) == ((12L, 2L, md5hex("q1 q2"))))
    assert(applied(4L) == ((7L, 2L, md5hex("m1 m2"))))
  }
}
