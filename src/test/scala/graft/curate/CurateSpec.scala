package graft.curate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurateSpec extends SparkSpec {

  test("decontaminate covers every non-eval doc and bounds n_shared by n_grams") {
    val rows = Curate.decontaminate(spark, sf).collect()
    val nEval = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0).count()
    assert(rows.length == 500 - nEval)
    assert(rows.forall { r =>
      val (g, s) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_shared"))
      s >= 0 && s <= g &&
        r.getAs[Int]("contaminated") == (if (s > 0) 1 else 0)
    })
  }

  test("decontaminate matches a string-gram reference on a doc spot check") {
    // reference: exact string 8-grams via DataFrame ops, no hashing
    val d = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), expr(
        """array_distinct(CASE WHEN size(l) >= 8
          |  THEN transform(sequence(0, size(l) - 8), i ->
          |    concat_ws(' ', slice(l, i + 1, 8)))
          |  ELSE array() END)""".stripMargin).as("grams"))
    val ev = d.filter(col("doc_id") % 97 === 0)
      .select(explode(col("grams")).as("gram")).distinct()
    val expected = d.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(ev, "gram").groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Curate.decontaminate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(got.filter(_._2 > 0) == expected)
  }

  test("contamination_report is the eval-side view consistent with decontaminate") {
    val rep = Curate.contaminationReport(spark, sf).collect()
    val nEval = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0).count()
    // one row per eval doc, ordered
    assert(rep.length == nEval)
    assert(rep.map(_.getAs[Long]("eval_id")).toSeq ==
      rep.map(_.getAs[Long]("eval_id")).sorted.toSeq)
    val dec = Curate.decontaminate(spark, sf).collect()
    // each training-side shared gram matches ≥1 eval doc, and an eval
    // gram can sit in several eval docs — so the eval-side total counts
    // AT LEAST every training-side match
    val totalTrain = dec.map(_.getAs[Long]("n_shared")).sum
    val totalEval = rep.map(_.getAs[Long]("n_shared_grams")).sum
    assert(totalEval >= totalTrain)
    // the two sides agree on whether ANY leakage exists
    assert((totalEval > 0) == dec.exists(_.getAs[Int]("contaminated") == 1))
    assert(rep.forall { r =>
      val (docs, grams) = (r.getAs[Long]("n_contaminating_docs"),
        r.getAs[Long]("n_shared_grams"))
      docs <= grams || docs == 0
    })
    assert(rep.forall(r =>
      r.getAs[Int]("compromised") ==
        (if (r.getAs[Long]("n_contaminating_docs") > 0) 1 else 0)))
  }

  test("domain_mix_temperature flattens toward the tail with exact isqrt weights") {
    val rows = Curate.domainMixTemperature(spark, sf).collect()
    assert(rows.nonEmpty)
    // temp_w is the exact integer sqrt of share_ppm
    assert(rows.forall { r =>
      val (s, w) = (r.getAs[Long]("share_ppm"), r.getAs[Long]("temp_w"))
      w * w <= s && s < (w + 1) * (w + 1)
    })
    // weights form a distribution (ppm, DIV truncation loses < n_cells)
    val sumW = rows.map(_.getAs[Long]("weight_ppm")).sum
    assert(sumW > 1000000L - rows.length && sumW <= 1000000L)
    // temperature ordering: a smaller-share cell never gets a smaller
    // weight, and relative upweighting is strictly tail-biased
    val byShare = rows.sortBy(_.getAs[Long]("share_ppm"))
    val ws = byShare.map(_.getAs[Long]("weight_ppm"))
    assert(ws.zip(ws.tail).forall { case (lo, hi) => lo <= hi })
    val lift = byShare.map(r => r.getAs[Long]("weight_ppm").toDouble /
      math.max(1L, r.getAs[Long]("share_ppm")))
    assert(lift.head >= lift.last, "tail cell must be upweighted relative to head")
  }

  test("sample_stratified takes the K lowest-hash docs per stratum, deterministically") {
    val a = Curate.sampleStratified(spark, sf, k = 7).collect()
    val b = Curate.sampleStratified(spark, sf, k = 7).collect()
    assert(a.toSeq == b.toSeq)
    val perLang = a.groupBy(_.getAs[String]("lang"))
    assert(perLang.values.forall(_.length <= 7))
    // ranks are 1..n and ordered by the sampling key within each stratum
    perLang.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length).toSeq)
      val keys = sorted.map(r => (r.getAs[Long]("skey"), r.getAs[Long]("doc_id")))
      assert(keys.toSeq == keys.sortBy(identity).toSeq)
    }
  }

  test("shard_pack running totals equal a single-pass prefix sum") {
    val rows = Curate.shardPack(spark, sf).collect().sortBy(_.getAs[Long]("doc_id"))
    var running = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("start") == running)
      assert(r.getAs[Long]("shard_id") == running / 20000L)
      running += r.getAs[Long]("n_tokens")
    }
  }

  test("shard_pack shards are contiguous and respect the token budget") {
    val rows = Curate.shardPack(spark, sf).collect().sortBy(_.getAs[Long]("doc_id"))
    val shards = rows.map(_.getAs[Long]("shard_id"))
    assert(shards.toSeq == shards.sorted.toSeq)
    // every shard except possibly the last starts within budget of its id
    rows.groupBy(_.getAs[Long]("shard_id")).foreach { case (sid, rs) =>
      assert(rs.map(_.getAs[Long]("start")).min / 20000L == sid)
    }
  }

  test("shard_pack_bpe packs by the bpe_apply token counts, prefix-sum-exact") {
    // the packing must bill exactly the counts bpe_apply reports —
    // driver-recompute the prefix sum from that frame
    val counts = graft.text.TextOps.bpeApply(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens"))
      .toMap
    val rows = Curate.shardPackBpe(spark, sf).collect()
      .sortBy(_.getAs[Long]("doc_id"))
    assert(rows.length == counts.size, "packing input must be the total doc spine")
    var running = 0L
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_tokens") == counts(id))
      assert(r.getAs[Long]("start") == running)
      assert(r.getAs[Long]("shard_id") == running / 20000L)
      running += counts(id)
    }
    // BPE counts differ from the whitespace proxy somewhere, so the
    // entry is not accidentally the same table as shard_pack
    val ws = Curate.shardPack(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(rows.exists(r =>
      ws(r.getAs[Long]("doc_id")) != r.getAs[Long]("n_tokens")))
  }

  test("repetition_stats matches a local 2-gram recount on a doc sample") {
    val texts = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = Curate.repetitionStats(spark, sf).collect()
    assert(rows.length == texts.size)
    rows.take(25).foreach { r =>
      val toks = texts(r.getAs[Long]("doc_id")).split(" ")
      val grams = toks.sliding(2).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
      assert(r.getAs[Long]("n_2grams") == grams.size.toLong)
      assert(r.getAs[Long]("n_distinct_2grams") == counts.size.toLong)
      assert(r.getAs[Long]("top_ppm") ==
        1000000L * counts.values.max / grams.size)
      val rep = counts.values.filter(_ > 1).sum
      assert(r.getAs[Long]("rep_ppm") == 1000000L * rep / grams.size)
    }
  }

  test("domain_mix shares sum to ~1e6 ppm and rates flatten the mixture") {
    val rows = Curate.domainMix(spark, sf).collect()
    val shares = rows.map(_.getAs[Long]("share_ppm"))
    assert(shares.sum <= 1000000L && shares.sum > 1000000L - rows.length)
    assert(rows.forall { r =>
      val rate = r.getAs[Long]("rate_ppm")
      rate >= 0 && rate <= 1000000L &&
        // overrepresented cells (share > target) get a down-sampling rate
        (r.getAs[Long]("share_ppm") <= r.getAs[Long]("target_ppm") ||
          rate < 1000000L)
    })
  }

  /** `shardPackDocs(docs)` as (doc_id, n_tokens, start, shard_id),
    * sorted by doc_id.
    */
  private def packed(docs: DataFrame): Seq[(Long, Long, Long, Long)] =
    Curate.shardPackDocs(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("start"), r.getAs[Long]("shard_id")))
      .sortBy(_._1).toSeq

  /** The driver oracle: a plain running token total in doc_id order. */
  private def driverPack(docs: DataFrame): Seq[(Long, Long, Long, Long)] = {
    val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    toks.map { case (id, n) =>
      val start = acc; acc += n; (id, n, start, start / 20000L)
    }.toSeq
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  test("shard_pack recursive prefix sum matches a driver scan at forced depth") {
    // The scan no longer recurses; "forced depth" is now the finest split:
    // 128 range partitions of ~4 documents each, so nearly every start is
    // carried by a partition offset rather than by the windowed running sum
    val docs = graft.core.Tables.documents(spark, sf)
    withShufflePartitions(128)(assert(packed(docs) == driverPack(docs)))
  }

  test("shard_pack prefix scan survives a sparse key space") {
    // doc_ids spread over a huge sparse range: the range partitioner
    // samples the keys themselves, so the partition offsets and the
    // per-partition running sums follow key order whatever the gaps
    val docs = graft.core.Tables.documents(spark, sf)
      .withColumn("doc_id", col("doc_id") * lit(1000003L) + lit(7L))
    assert(packed(docs) == driverPack(docs))
  }

  test("shard_pack prefix scan matches a driver running sum at 16 shuffle partitions") {
    val docs = graft.core.Tables.documents(spark, sf)
    withShufflePartitions(16)(assert(packed(docs) == driverPack(docs)))
  }

  test("shard_pack prefix scan with fewer documents than partitions") {
    // 5 documents over 16 range partitions: most partitions are empty
    // and have no total, which must not shift the offsets after them
    val docs = graft.core.Tables.documents(spark, sf)
      .filter(col("doc_id") % 100 === 3)
    withShufflePartitions(16) {
      assert(docs.count() < 16)
      assert(packed(docs) == driverPack(docs))
    }
  }

  test("shard_pack of an empty input is empty") {
    val docs = graft.core.Tables.documents(spark, sf).filter(lit(false))
    assert(packed(docs).isEmpty)
    assert(driverPack(docs).isEmpty)
  }

  test("importance weights hit exact parity when target equals source") {
    // tgt_cnt = src_cnt and t_total = s_total make every token ratio
    // exactly 1e6, so every document's mean is exactly 1e6 and flagged —
    // a crisp integer-arithmetic invariant of the DSIR formula
    val docs = graft.core.Tables.documents(spark, sf)
    val rows = Curate.importanceWeightsFor(docs, docs).collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getAs[Long]("weight_ppm") == 1000000L &&
      r.getAs[Int]("flagged") == 1))
  }

  test("seq_pack spans are consistent with a driver prefix sum") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val expected = toks.map { case (id, n) =>
      val start = acc; acc += n
      (id, n, start, start / 2048L, (start + n - 1) / 2048L,
        (start + n - 1) / 2048L - start / 2048L + 1L)
    }
    val got = Curate.seqPack(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("start"), r.getAs[Long]("first_seq"),
        r.getAs[Long]("last_seq"), r.getAs[Long]("n_seqs")))
      .sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    // packing covers the stream: consecutive docs abut exactly
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 + a._2 == b._3)
    }
  }

  test("seq_pack budgets become tokenizer-exact with bpe_apply counts") {
    import org.apache.spark.sql.functions._
    // thread learned-tokenizer counts through the packing machinery and
    // check the running totals against a driver prefix sum of the SAME
    // counts — the composition VERDICT r6 asked for
    val counts = graft.text.TextOps.bpeApply(spark, sf, merges = 4)
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").join(counts, "doc_id")
    val got = Curate.seqPackDocs(docs, nTokens = col("n_bpe_tokens")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("start"))).sortBy(_._1)
    val bpe = counts.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bpe_tokens")))
      .sortBy(_._1)
    var acc = 0L
    val expected = bpe.map { case (id, n) => val s = acc; acc += n; (id, n, s) }
    assert(got.toSeq == expected.toSeq)
    // and the totals really are BPE totals, not whitespace totals
    val wsTotal = graft.core.Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")).cast("long"))).collect()(0).getLong(0)
    assert(acc > wsTotal)
  }

  test("importance sample keeps parity-weight docs iff hash < weight") {
    // with target == source every weight is exactly 1e6, so every doc
    // must be kept (skey < 1e6 always) — and the skey column must match
    // the stratified-sampling md5 recipe bit-for-bit
    val docs = graft.core.Tables.documents(spark, sf)
    val rows = Curate.importanceSampleOf(
      Curate.importanceWeightsFor(docs, docs)).collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getAs[Int]("kept") == 1))
    assert(rows.forall(r => r.getAs[Long]("skey") >= 0 &&
      r.getAs[Long]("skey") < 1000000L))
    // zero-weight docs are never kept
    val sql = spark.sqlContext
    import sql.implicits._
    val zero = Curate.importanceSampleOf(
      Seq((1L, 0L), (2L, 500000L)).toDF("doc_id", "weight_ppm")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("kept")).toMap
    assert(zero(1L) == 0)
  }

  test("importance weights rank target-like docs above disjoint-vocab docs") {
    val sql = spark.sqlContext
    import sql.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "gamma delta gamma delta"),
      (3L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val target = Seq((9L, "alpha beta alpha beta alpha beta")).toDF("doc_id", "text")
    val w = Curate.importanceWeightsFor(docs, target).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("weight_ppm")).toMap
    // doc 1 is pure target vocabulary, doc 2 shares none, doc 3 is half
    assert(w(1L) > w(3L) && w(3L) > w(2L) && w(2L) == 0L)
  }

  test("epoch_plan arithmetic matches a driver recompute from the mixture") {
    val plan = Curate.epochPlan(spark, sf).collect()
    val mix = Curate.domainMixTemperature(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Long]("cell_tokens"), r.getAs[Long]("weight_ppm"))).toMap
    assert(plan.length == mix.size)
    val tot = mix.values.map(_._1).sum
    val budget = tot / 1000000 * 2000000 + tot % 1000000 * 2000000 / 1000000
    plan.foreach { r =>
      val (cell, w) = mix((r.getAs[String]("lang"), r.getAs[String]("source")))
      assert(r.getAs[Long]("cell_tokens") == cell)
      assert(r.getAs[Long]("weight_ppm") == w)
      assert(r.getAs[Long]("budget_tokens") == budget)
      val planned = budget / 1000000 * w + budget % 1000000 * w / 1000000
      assert(r.getAs[Long]("planned_tokens") == planned)
      val epochs = planned / cell * 1000000 + planned % cell * 1000000 / cell
      assert(r.getAs[Long]("epochs_ppm") == epochs)
      val capped = math.min(epochs, 4000000L)
      assert(r.getAs[Long]("epochs_capped_ppm") == capped)
      assert(r.getAs[Long]("alloc_tokens") ==
        cell / 1000000 * capped + cell % 1000000 * capped / 1000000)
      // the cap only ever shrinks the allocation
      assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("planned_tokens")
        || epochs <= 4000000L)
    }
    // a 2x budget over a flattened mix must schedule repeats somewhere
    assert(plan.exists(_.getAs[Long]("epochs_ppm") > 1000000L))
  }

  test("semantic_decon matches a driver recompute over the eval split") {
    val rows = Curate.semanticDecon(spark, sf).collect()
    val embs = graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1))
    val (ev, tr) = embs.partition(_._1 % 97 == 0)
    assert(ev.nonEmpty && rows.length == tr.length)
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    // same rounding Spark's round() applies to doubles: BigDecimal
    // via the shortest decimal representation, HALF_UP
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val norms = embs.map { case (id, e) => id -> math.sqrt(dot(e, e)) }.toMap
    val expected = tr.map { case (id, e) =>
      val scored = ev.map { case (eid, ee) =>
        (r6(dot(e, ee) / (norms(id) * norms(eid))), eid)
      }
      val nClose = scored.count(_._1 >= 0.35).toLong
      val (bestC, bestId) = scored.maxBy { case (c, eid) => (c, -eid) }
      id -> ((nClose, bestC, bestId, if (nClose > 0) 1 else 0))
    }.toMap
    rows.foreach { r =>
      val got = (r.getAs[Long]("n_close"), r.getAs[Double]("max_cos6"),
        r.getAs[Long]("closest_eval"), r.getAs[Int]("contaminated"))
      assert(got == expected(r.getAs[Long]("vec_id")),
        s"vec ${r.getAs[Long]("vec_id")}: $got != ${expected(r.getAs[Long]("vec_id"))}")
    }
    // the corpus has real semantic neighbours at the bulk threshold —
    // the gate must produce positives to be a meaningful check
    assert(rows.exists(_.getAs[Int]("contaminated") == 1))
  }

  test("semantic_decon fails loudly on an empty eval suite instead of passing everything") {
    val e = graft.core.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val err = intercept[Exception] {
      Curate.semanticDeconFrom(e, e.filter(col("vec_id") < 0)).collect()
    }
    assert(err.getMessage.contains("eval frame is empty"))
  }

  test("decon_combined is the row-wise OR of the lexical and semantic gates") {
    val combined = Curate.deconCombined(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val lex = Curate.decontaminate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val sem = Curate.semanticDecon(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    // full coverage: every training doc appears in all three frames
    assert(combined.keySet == lex.keySet && combined.keySet == sem.keySet)
    combined.foreach { case (id, r) =>
      assert(r.getAs[Long]("n_shared") == lex(id).getAs[Long]("n_shared"))
      assert(r.getAs[Int]("lex_flag") == lex(id).getAs[Int]("contaminated"))
      assert(r.getAs[Long]("n_close") == sem(id).getAs[Long]("n_close"))
      assert(r.getAs[Double]("max_cos6") == sem(id).getAs[Double]("max_cos6"))
      assert(r.getAs[Int]("sem_flag") == sem(id).getAs[Int]("contaminated"))
      assert(r.getAs[Int]("keep") ==
        (if (r.getAs[Int]("lex_flag") == 0 && r.getAs[Int]("sem_flag") == 0) 1 else 0))
    }
    // the union gate is strictly stronger than either side alone iff the
    // two flags disagree somewhere — on this corpus both gates fire
    assert(combined.values.exists(_.getAs[Int]("keep") == 0))
  }
}
