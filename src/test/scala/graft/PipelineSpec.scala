package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("syncAndIndex writes exactly the dirty keys as chunked search docs") {
    val out = Files.createTempDirectory("graft-index").toString
    val written = Pipeline.syncAndIndex(spark, sf, out, chunkSize = 500)
    val dirty = graft.sync.Sync.syncDiff(spark, sf)
      .filter(col("status").isin("new", "changed"))
      .select(col("key")).collect().map(_.getLong(0)).toSet
    // only orders that HAVE lineitems become search docs
    val indexable = graft.index.Indexing.searchDoc(spark, sf)
      .select("key").collect().map(_.getLong(0)).toSet
    val got = written.select("key").collect().map(_.getLong(0)).toSet
    assert(got == (dirty intersect indexable))
    // the sink round-trips the same keys, chunk-bounded
    val back = spark.read.parquet(out)
    assert(back.select("key").collect().map(_.getLong(0)).toSet == got)
    assert(back.groupBy("n_name", "chunk_id").count()
      .collect().forall(_.getAs[Long]("count") <= 500))
  }

  test("syncAndIndex narrows a wide, duplicated eligible frame to its key set") {
    import spark.implicits._
    val out1 = Files.createTempDirectory("graft-elig1").toString
    val plain = Pipeline.syncAndIndex(spark, sf, out1, chunkSize = 500)
    // raw state-store shape: extra columns AND duplicate key rows
    val allKeys = plain.select("key").collect().map(_.getLong(0))
    val wide = (allKeys ++ allKeys)
      .map(k => (k, "idle", 42L)).toSeq
      .toDF("key", "sync_status", "status_changed_at")
    val out2 = Files.createTempDirectory("graft-elig2").toString
    val gated = Pipeline.syncAndIndex(spark, sf, out2, chunkSize = 500,
      eligible = Some(wide))
    // no extra columns leak, no doc writes twice
    assert(gated.columns.sameElements(plain.columns))
    assert(gated.count() == gated.select("key").distinct().count())
    assert(gated.select("key").collect().map(_.getLong(0)).sorted
      .sameElements(allKeys.sorted))
  }

  test("curateCorpus keeps only quality+survivor+clean docs and shards them") {
    val manifest = Pipeline.curateCorpus(spark, sf).collect()
    val kept = manifest.map(_.getAs[Long]("doc_id")).toSet
    val quality = graft.text.TextOps.qualityScore(spark, sf)
      .filter(col("keep") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = graft.dedup.Dedup.dedupCluster(spark, sf)
      .filter(col("keep") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    val clean = graft.curate.Curate.decontaminate(spark, sf)
      .filter(col("contaminated") === 0).select("doc_id").collect().map(_.getLong(0)).toSet
    val unrepeated = graft.curate.Curate.repetitionStats(spark, sf)
      .filter(col("flagged") === 0).select("doc_id").collect().map(_.getLong(0)).toSet
    val common = graft.text.Relevance.rarityScore(spark, sf)
      .filter(col("flagged") === 0).select("doc_id").collect().map(_.getLong(0)).toSet
    val probable = graft.text.Relevance.lmScore(spark, sf)
      .filter(col("flagged") === 0).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept ==
      (quality intersect unrepeated intersect common intersect probable
        intersect survivors intersect clean))
    assert(kept.nonEmpty)
    // shard manifest integrity: running totals consistent, shards ordered
    val sorted = manifest.sortBy(_.getAs[Long]("doc_id"))
    var running = 0L
    sorted.foreach { r =>
      assert(r.getAs[Long]("start") == running)
      running += r.getAs[Long]("n_tokens")
    }
  }

  test("indexEmbeddings equals annLsh on a clean corpus and drops poisoned vectors") {
    val clean = Pipeline.indexEmbeddings(spark, sf).collect().map(_.toString).sorted
    val plain = graft.sim.Similarity.annLsh(spark, sf).collect().map(_.toString).sorted
    assert(clean.nonEmpty && clean.sameElements(plain))
    // poison the corpus: a NaN vector, a zero vector, a short vector —
    // none may surface as a neighbour
    val sql = spark.sqlContext
    import sql.implicits._
    val base = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val poisoned = base ++ Seq(
      (900001L, Array.fill(64)(Float.NaN)),
      (900002L, Array.fill(64)(0.0f)),
      (900003L, Array.fill(3)(1.0f)))
    val out = Pipeline.indexEmbeddingsFrom(poisoned.toDF("vec_id", "embedding"))
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n_id") < 900000L))
  }

  test("composed curation flows share one gate computation") {
    val gates = Pipeline.curateGates(spark, sf)
    val report = Pipeline.curationReportFrom(gates)
    val corpus = Pipeline.curateCorpusFrom(spark, sf, gates)
    // the composed plans read the PINNED gate frames — the gate
    // machinery (minhash banding, merge-walk verification, n-gram
    // hashing) appears in neither consumer's physical plan, so the
    // dedup chain cannot re-execute per consumer
    Seq("report" -> report, "corpus" -> corpus).foreach { case (n, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("minhash_band_buckets"), s"$n re-plans banding")
      assert(!plan.contains("sorted_intersect_count"), s"$n re-plans verification")
      assert(!plan.contains("ngram_hash_set"), s"$n re-plans decontamination")
    }
    // the verdict join ran once, into the pinned decision frame: the
    // report is a projection of that pin and joins nothing itself
    val reportPlan = report.queryExecution.executedPlan.toString
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin").foreach { j =>
      assert(!reportPlan.contains(j), s"report re-joins the gates ($j):\n$reportPlan")
    }
    // and sharing changes nothing about the results
    val viaGates = report.collect().map(_.toString).sorted
    val standalone = Pipeline.curationReport(spark, sf)
      .collect().map(_.toString).sorted
    assert(viaGates.sameElements(standalone))
    val manifestViaGates = corpus.collect().map(_.toString).sorted
    val manifestStandalone = Pipeline.curateCorpus(spark, sf)
      .collect().map(_.toString).sorted
    assert(manifestViaGates.sameElements(manifestStandalone))
    assert(viaGates.nonEmpty && manifestViaGates.nonEmpty)
  }

  test("curationReport's keep set equals curateCorpus's survivor manifest") {
    val reported = Pipeline.curationReport(spark, sf).collect()
    val kept = reported.filter(_.getAs[Int]("keep") == 1)
      .map(_.getAs[Long]("doc_id")).toSet
    val manifest = Pipeline.curateCorpus(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept == manifest)
    // keep is exactly the AND of the per-gate columns
    reported.foreach { r =>
      val expect = r.getAs[Int]("q_keep") == 1 && r.getAs[Int]("rep_flagged") == 0 &&
        r.getAs[Int]("rare_flagged") == 0 && r.getAs[Int]("lm_flagged") == 0 &&
        r.getAs[Int]("dedup_keep") == 1 && r.getAs[Int]("contaminated") == 0
      assert(r.getAs[Int]("keep") == (if (expect) 1 else 0))
    }
  }

  test("indexed curation report equals the per-run report; cluster gate never re-bands") {
    val plain = Pipeline.curationReport(spark, sf)
    val indexed = Pipeline.curationReportFrom(Pipeline.curateGatesIndexed(spark, sf))
    assert(indexed.exceptAll(plain).count() == 0 &&
      plain.exceptAll(indexed).count() == 0)
    // the load-not-recompute contract: the indexed cluster gate's plan
    // contains NO signature hashing, banding, or text scan — it reads
    // the persisted label index (bucketed) and derives keep with one
    // tiny aggregation
    val plan = graft.dedup.MinhashIndexStore.dedupClusterIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("xxhash64"), s"indexed cluster gate recomputes signatures:\n$plan")
    assert(!plan.contains("minhash_band_buckets"), s"indexed cluster gate re-bands:\n$plan")
    assert(!plan.toLowerCase.contains("documents.parquet"),
      "indexed cluster gate re-scans the corpus text")
    // labels are bucketed by cluster, so the size agg and the size join
    // read bucket-aligned: bucketed scans, no hash-partition shuffle
    // (a BroadcastExchange of the tiny sizes frame is fine)
    assert(plan.contains("Bucketed: true"),
      s"indexed cluster gate not reading the bucketed label index:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"indexed cluster gate shuffles the label index:\n$plan")
  }

  test("gate_funnel stages reconcile with the decision table and the manifest") {
    val funnel = Pipeline.gateFunnel(spark, sf).collect()
    assert(funnel.length == 6)
    assert(funnel.map(_.getAs[String]("stage")).toSeq == Seq(
      "quality", "repetition", "rarity", "lm", "dedup", "decontamination"))
    val report = Pipeline.curationReport(spark, sf).collect()
    // row 1 enters with every candidate; counts are monotone and each
    // stage's bookkeeping balances
    assert(funnel.head.getAs[Long]("n_in") == report.length.toLong)
    funnel.foreach { r =>
      assert(r.getAs[Long]("n_in") - r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_out"))
      assert(r.getAs[Long]("survival_ppm") ==
        1000000L * r.getAs[Long]("n_out") / report.length)
    }
    assert(funnel.sliding(2).forall(p =>
      p(0).getAs[Long]("n_out") == p(1).getAs[Long]("n_in")))
    // the funnel's exit equals the survivor manifest exactly
    assert(funnel.last.getAs[Long]("n_out") ==
      report.count(_.getAs[Int]("keep") == 1).toLong)
    assert(funnel.last.getAs[Long]("n_out") ==
      Pipeline.curateCorpus(spark, sf).count())
  }

  test("source_reputation aggregates the decision table per provenance exactly") {
    val rows = Pipeline.sourceReputation(spark, sf).collect()
    val src = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val score = graft.text.TextOps.qualityScore(spark, sf)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("score")).toMap
    val rep = Pipeline.curationReport(spark, sf).collect()
      .groupBy(r => src(r.getAs[Long]("doc_id")))
    assert(rows.length == rep.size)
    rows.foreach { r =>
      val g = rep(r.getAs[String]("source"))
      val n = g.length.toLong
      assert(r.getAs[Long]("n_candidates") == n)
      assert(r.getAs[Long]("keep_ppm") ==
        1000000L * g.count(_.getAs[Int]("keep") == 1) / n)
      assert(r.getAs[Long]("dup_ppm") ==
        1000000L * g.count(_.getAs[Int]("dedup_keep") == 0) / n)
      assert(r.getAs[Long]("contam_ppm") ==
        1000000L * g.count(_.getAs[Int]("contaminated") == 1) / n)
      assert(r.getAs[Long]("mean_score") ==
        g.map(x => score(x.getAs[Long]("doc_id")).toLong).sum / n)
    }
  }

  test("publish capstone: curate -> shard-write -> audit reconciles with the funnel") {
    // the full production hand-off: the survivor manifest materializes
    // as the shard-partitioned corpus, and what LANDED reconciles with
    // both the manifest and the funnel's exit row
    val manifest = Pipeline.curateCorpus(spark, sf)
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("publish").toString
    val audit = graft.sinks.Sinks.writeShardedCorpus(docs, manifest, out).collect()
    val landedDocs = audit.map(_.getAs[Long]("n_docs")).sum
    val landedTokens = audit.map(_.getAs[Long]("shard_tokens")).sum
    assert(landedDocs == manifest.count())
    assert(landedTokens ==
      manifest.agg(org.apache.spark.sql.functions.sum("n_tokens"))
        .head.getLong(0))
    val funnel = Pipeline.gateFunnel(spark, sf).collect()
    assert(funnel.last.getAs[Long]("n_out") == landedDocs)
    // every written doc is a keep=1 candidate — no eval leakage, no
    // dropped doc sneaks into the published corpus
    val written = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val keepSet = Pipeline.curationReport(spark, sf).collect()
      .filter(_.getAs[Int]("keep") == 1).map(_.getAs[Long]("doc_id")).toSet
    assert(written == keepSet)
  }

  test("crawlCycle converges every persisted store on one crawl; replay is all-zero") {
    val docs = graft.core.Tables.documents(spark, sf)
    val emb = graft.core.Tables.embeddings(spark, sf)
    // crawl 1: ids below 400 minus the %5 slice; crawl 2 (the cycle's
    // upstream): below-400 minus the %3 slice PLUS everything >= 400 —
    // so every diff class fires: deletes (%3-dropped), re-additions
    // (%5-dropped ids back), monotone new ids (>= 400, the span batch)
    val oldDocs = docs.filter(col("doc_id") < 400 && col("doc_id") % 5 =!= 0)
    val upDocs = docs.filter(
      (col("doc_id") < 400 && col("doc_id") % 3 =!= 0) || col("doc_id") >= 400)
    val oldEmb = emb.filter(col("vec_id") < 400 && col("vec_id") % 5 =!= 0)
      .select("vec_id", "embedding")
    val upEmb = emb.filter(
      (col("vec_id") < 400 && col("vec_id") % 3 =!= 0) || col("vec_id") >= 400)
      .select("vec_id", "embedding")
    // crawl-1 state for all four stores (the decision store keys off a
    // corpus dir — give it crawl 1 as its documents table)
    val tmp = Files.createTempDirectory("graft-crawlcycle").toString
    oldDocs.write.parquet(s"$tmp/documents.parquet")
    graft.curate.DecisionStore.ensureDecisions(spark, tmp)
    val searchBase = Files.createTempDirectory("graft-cc-search").toString + "/idx"
    graft.index.SearchIndexStore.build(oldDocs.select("doc_id", "text"), searchBase)
    val vectorBase = Files.createTempDirectory("graft-cc-vec").toString + "/idx"
    graft.sim.VectorIndexStore.buildIvfPq(oldEmb, vectorBase)
    val spanBase = Files.createTempDirectory("graft-cc-span").toString + "/idx"
    graft.dedup.SpanIndexStore.buildSpanIndex(oldDocs.select("doc_id", "text"), spanBase)

    val rep = Pipeline.crawlCycle(spark, tmp, upDocs, upEmb,
      searchBase, vectorBase, spanBase)
    val upIds = upDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val oldIds = oldDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    // search index tracks exactly the upstream corpus
    assert(graft.index.SearchIndexStore.loadDocStats(spark, searchBase)
      .select("doc_id").collect().map(_.getLong(0)).toSet == upIds)
    // vector index tracks exactly the upstream vectors
    val upVecIds = upEmb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(graft.sim.VectorIndexStore.loadIvfPq(spark, vectorBase)
      .codes.select("vec_id").collect().map(_.getLong(0)).toSet == upVecIds)
    // decision table tracks the upstream minus its eval slice (%97)
    assert(graft.curate.DecisionStore.decisionTable(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      upIds.filter(_ % 97 != 0))
    // span reports: crawl-1 history plus the monotone new slice
    assert(spark.read.parquet(s"$spanBase/report")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      oldIds ++ upIds.filter(_ >= 400))
    assert(rep.decisionsNew > 0 && rep.decisionsDeleted > 0)
    assert(rep.searchNew > 0 && rep.searchDeleted > 0)
    assert(rep.vectorsNew > 0 && rep.vectorsDeleted > 0)
    assert(rep.spanBatchDocs == upIds.count(_ >= 400).toLong)

    // a replayed cycle converges to all-zero diffs and changes nothing
    val rep2 = Pipeline.crawlCycle(spark, tmp, upDocs, upEmb,
      searchBase, vectorBase, spanBase)
    assert(rep2 == Pipeline.CrawlCycleReport(0, 0, 0, 0, 0, 0, 0, 0))
  }
}
